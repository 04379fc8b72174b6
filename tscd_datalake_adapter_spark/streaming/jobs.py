"""Live Structured Streaming jobs (SURVEY.md §2.2 streaming block).

Each job reads the events fixture through ``readStream`` (file source +
``availableNow`` trigger — bounded, deterministic), applies the *same*
transformation function as the batch twin, and lands results in a sink.
Tests assert stream output == batch twin output.

Scale design: file-source streams are the local stand-in for Kafka; the
aggregation state store is keyed by (window, event_type) — bounded keys —
and the watermark bounds state retention for sessions/dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.functions import spark_decimal, spark_round
from tscd_datalake_adapter_spark.sources import load_table
from tscd_datalake_adapter_spark.streaming.batch_twins import tumbling_agg


def _await_terminated(q, timeout_sec: int = 300) -> None:
    """Block until the query terminates, raising on timeout.

    ``StreamingQuery.awaitTermination(timeout)`` returns ``False`` when the
    timeout elapses with the query still running; ignoring that bool would
    let a slow run silently return partial results from the memory sink.
    """
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} did not terminate within "
            f"{timeout_sec}s; stopping it rather than reading a partial sink"
        )


def stage_stream_source(spark: SparkSession, sf_dir: str, source_dir: str) -> str:
    """Re-write the events table into a directory the file stream can tail.

    Multiple parquet files → multiple micro-batch splits, exercising
    incremental processing."""
    load_table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(source_dir)
    return source_dir


def stage_stream_source_ordered(
    spark: SparkSession, sf_dir: str, source_dir: str
) -> str:
    """Stage the events table as TIME-RANGE-ordered files replayed in time
    order: four non-overlapping ts ranges written SEQUENTIALLY (the file
    stream orders candidate files by modification time, so sequential
    writes replay ranges oldest-first; a short sleep guarantees distinct
    mtimes). Cross-batch disorder is then bounded (zero between ranges)
    while within-batch rows stay unsorted — the bounded-late-data arrival
    model a WATERMARK encodes. Use it for jobs whose semantics finalize or
    drop on the watermark (the plain ``stage_stream_source``
    hash-shuffles rows across files, which under a watermark would
    legitimately discard or mis-finalize most of them)."""
    import time as _time

    e = load_table(spark, sf_dir, "events")
    cuts = ["2024-01-09", "2024-01-17", "2024-01-25"]
    ts = F.col("ts")
    ranges = [
        ts < cuts[0],
        (ts >= cuts[0]) & (ts < cuts[1]),
        (ts >= cuts[1]) & (ts < cuts[2]),
        ts >= cuts[2],
    ]
    for cond in ranges:
        e.where(cond).coalesce(1).write.mode("append").parquet(source_dir)
        _time.sleep(1.1)  # distinct mtimes even on coarse filesystems
    return source_dir


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    from tscd_datalake_adapter_spark.sources import ensure_engine_confs

    ensure_engine_confs(spark)  # timestamp typing must not depend on call order
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def run_tumbling_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, query_name: str
) -> DataFrame:
    """Watermarked tumbling aggregation, availableNow, complete-mode memory
    sink. Returns the final result DataFrame."""
    stream = read_event_stream(spark, source_dir).withWatermark("ts", "10 minutes")
    q = (
        tumbling_agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(f"SELECT * FROM {query_name}")


def run_dedup_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """Stateful streaming dedup on event_id with a watermark bounding state,
    appended to a parquet sink via foreachBatch (the reference's lake-write
    R4 in streaming form)."""
    stream = (
        read_event_stream(spark, source_dir)
        .withWatermark("ts", "1 day")
        .dropDuplicates(["event_id"])
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.read.parquet(out_dir)


def run_stateful_user_counter(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY.md
    §2.2: 'applyInPandasWithState for custom stateful operators'): a
    per-user running (event count, value total) kept in group state across
    micro-batches, emitting the updated totals each batch.

    State is one small tuple per user key — bounded, mergeable, exactly the
    shape that scales to 100 TB behind a watermark. Pass
    ``max_files_per_trigger`` to force multiple micro-batches so state
    genuinely carries across batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(spark, source_dir, max_files_per_trigger)

    def _update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [spark_round(total, 2)],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    # Latest state per user (a user may emit once per micro-batch).
    latest = spark.sql(
        f"SELECT user_id, max_by(n_events, n_events) AS n_events, "
        f"max_by(total_value, n_events) AS total_value "
        f"FROM {query_name} GROUP BY user_id"
    )
    return latest


def run_append_file_sink(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """Direct ``writeStream.format('parquet')`` append sink (the streaming
    analogue of the reference's lake write R4): filter purchases, land them
    partitioned by event date, exactly-once via the checkpoint."""
    stream = read_event_stream(spark, source_dir).where(
        F.col("event_type") == "purchase"
    )
    q = (
        stream.withColumn("event_date", F.to_date("ts"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("event_date")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.read.parquet(out_dir)


def demo_watermark_late_drop(
    spark: SparkSession, work_dir: str
) -> tuple[int, int]:
    """Observable late-data drop: batch 1 carries fresh events that advance
    the watermark far past batch 2's stale events; with an append-mode
    windowed aggregation the stale rows are dropped from state.

    Returns (rows_in_result_including_late, rows_truly_late_sent). The caller
    asserts the late batch contributed nothing."""
    import datetime as dt
    import os

    src = os.path.join(work_dir, "src")
    ckpt = os.path.join(work_dir, "ckpt")
    out = os.path.join(work_dir, "out")

    fresh = [(i, dt.datetime(2024, 3, 10, 12, 0, i), "click") for i in range(60)]
    late = [(100 + i, dt.datetime(2024, 3, 1, 0, 0, i), "click") for i in range(5)]
    pusher = [(200, dt.datetime(2024, 3, 10, 13, 0, 0), "click")]
    schema = "event_id long, ts timestamp, event_type string"

    def run_once() -> None:
        # Append-mode windowed agg to a parquet sink (checkpoint-recoverable):
        # a window emits only once the watermark passes its end.
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, event_type string")
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_terminated(q)

    # batch 1: fresh events → watermark advances to 12:00:59 − 10 min
    spark.createDataFrame(fresh, schema).write.mode("overwrite").parquet(src)
    run_once()
    # batch 2: stale events, 9 days behind the watermark → dropped from state
    spark.createDataFrame(late, schema).write.mode("append").parquet(src)
    run_once()
    # batch 3: one event an hour later → watermark passes the fresh window's
    # end, finalizing it. If the stale rows had leaked into state, their
    # (long-finalized) windows would emit here too.
    spark.createDataFrame(pusher, schema).write.mode("append").parquet(src)
    run_once()

    total_counted = spark.read.parquet(out).agg(F.sum("n")).first()[0] or 0
    return int(total_counted), len(late)


def run_session_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, query_name: str
) -> DataFrame:
    """Session-window aggregation over the live stream (update-mode memory
    sink shows per-batch session growth; availableNow → one final state)."""
    stream = read_event_stream(spark, source_dir).withWatermark("ts", "10 minutes")
    agg = (
        stream.groupBy(
            F.col("user_id"), F.session_window("ts", "5 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_stream_join(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, query_name: str
) -> DataFrame:
    """Live stream-stream interval join: views ⋈ purchases, both sides read
    as watermarked streams from the same file source.

    Spark uses the watermarks plus the time-range join condition to compute
    per-side state-retention bounds (views held 30 min past the purchase
    watermark, purchases dropped once the view watermark passes) — without
    them the join state grows without bound. Append mode: a joined pair is
    emitted once it can no longer change. Aggregation happens downstream of
    the join in the same continuous query.
    """
    from tscd_datalake_adapter_spark.streaming.batch_twins import (
        view_purchase_pairs,
    )

    events = read_event_stream(spark, source_dir)
    views = events.where(F.col("event_type") == "view").withWatermark(
        "ts", "1 hour"
    )
    purchases = events.where(F.col("event_type") == "purchase").withWatermark(
        "ts", "1 hour"
    )
    pairs = view_purchase_pairs(views, purchases)
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT v_user AS user_id, count(*) AS n_pairs FROM {query_name} "
        "GROUP BY v_user ORDER BY user_id"
    )


def run_incremental_rollup(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, state_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance: per micro-batch, fold the
    batch's hourly per-type partial aggregates into a persistent rollup
    table (count + decimal-exact value sum per (hour, event_type)).

    The rollup state is written copy-on-write into versioned subdirs
    (``v000001``, ``v000002``, …) — reading vN while writing vN+1 never
    overlaps, which is the manual form of a table format's atomic swap
    (with Delta/Iceberg this whole function is ``MERGE INTO`` in
    ``foreachBatch``). Counts and sums are ASSOCIATIVE partials, so folding
    per batch gives exactly the batch-twin result regardless of how the
    stream is split — verified in tests with maxFilesPerTrigger=1.

    At 100 TB/day this is the pattern that keeps dashboards fresh without
    re-scanning history: each batch touches only its own hours'
    aggregates, state size is bounded by rollup cardinality (hours ×
    types), never raw-event volume.
    """
    import os

    from tscd_datalake_adapter_spark.functions import DEC

    def _latest_version(path: str) -> tuple[int, str | None]:
        if not os.path.isdir(path):
            return 0, None
        vs = sorted(d for d in os.listdir(path) if d.startswith("v"))
        return (int(vs[-1][1:]), os.path.join(path, vs[-1])) if vs else (0, None)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        inc = (
            batch_df.groupBy(
                F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                # state stays decimal(38,6): folding doubles would re-
                # introduce summation-order error across batches
                F.sum(F.col("value").cast(DEC)).alias("total_dec"),
            )
        )
        ver, cur_path = _latest_version(state_dir)
        if cur_path is not None:
            cur = batch_df.sparkSession.read.parquet(cur_path)
            merged = (
                cur.unionByName(inc)
                .groupBy("hour", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_dec").cast(DEC).alias("total_dec"),
                )
            )
        else:
            merged = inc
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{ver + 1:06d}")
        )

    q = (
        read_event_stream(spark, source_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    _, final_path = _latest_version(state_dir)
    return spark.read.parquet(final_path).withColumn(
        "total_value", F.col("total_dec").cast("double")
    ).drop("total_dec")


def run_windowed_topk_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """Live maintained top-k leaderboard: watermarked tumbling aggregation in
    complete mode; each trigger's ``foreachBatch`` applies the SHARED
    ranking (``batch_twins.windowed_topk``'s window spec) to the full
    windowed state and atomically overwrites the parquet serving table —
    the standard pattern for rank-over-streaming-state, which Structured
    Streaming cannot plan inside the stream (window functions over a
    streaming aggregate are unsupported by design: rank is a total
    statement about state, not an increment).

    Returns the final serving table. Scale: the per-trigger rework is
    bounded by windows × event types (the aggregate state), not by the
    event volume; the overwrite is a small serving artifact."""
    from pyspark.sql import Window as _W

    from tscd_datalake_adapter_spark.streaming.batch_twins import tumbling_agg

    stream = read_event_stream(spark, source_dir).withWatermark(
        "ts", "10 minutes"
    )

    def _rank_and_serve(batch_df: DataFrame, batch_id: int) -> None:
        w = _W.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
        (
            batch_df.withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= 3)
            .write.mode("overwrite")
            .parquet(out_dir)
        )

    q = (
        tumbling_agg(stream)
        .writeStream.outputMode("complete")
        .foreachBatch(_rank_and_serve)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.read.parquet(out_dir)


def run_asof_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING as-of join via ``applyInPandasWithState``: each purchase
    is matched to the user's most recent view at-or-before it (ties → max
    event_id) — the live form of ``asof_join_purchase_view``, tolerant of
    OUT-OF-ORDER arrival across micro-batches.

    Per-user state buffers every (view, purchase) observation seen so far
    as parallel long arrays (timestamps in integer microseconds). Each
    batch in which the user appears re-derives the as-of match for ALL of
    the user's purchases from the full buffered history and re-emits them
    (update mode) with a monotonically increasing emission sequence; a
    late-arriving view therefore corrects earlier matches in the user's
    next emission, and the HIGHEST-seq emission per purchase equals the
    batch as-of join exactly (pinned live==twin in tests, with
    maxFilesPerTrigger=1 forcing real cross-batch state and the staging
    repartition guaranteeing out-of-order time).

    Production note: unbounded history is the demo simplification — at
    100 TB the state carries a watermark-driven eviction
    (EventTimeTimeout: finalize purchases older than the watermark and
    drop views older than the oldest pending purchase), which bounds
    per-user state to the late-data horizon; the matching logic is
    unchanged."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(spark, source_dir, max_files_per_trigger).where(
        F.col("event_type").isin("view", "purchase")
    )

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            v_ts, v_id, p_ts, p_id, seq = state.get
            v_ts, v_id, p_ts, p_id = (
                list(v_ts), list(v_id), list(p_ts), list(p_id),
            )
        else:
            v_ts, v_id, p_ts, p_id, seq = [], [], [], [], 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            micros = (
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            )
            for t, i, et in zip(micros, pdf["event_id"], pdf["event_type"]):
                if et == "view":
                    v_ts.append(int(t))
                    v_id.append(int(i))
                else:
                    p_ts.append(int(t))
                    p_id.append(int(i))
        seq += 1
        state.update((v_ts, v_id, p_ts, p_id, seq))
        if not p_ts:
            return
        out_match, out_mts = [], []
        if v_ts:
            # sort views by (ts, id); the best match for purchase ts is the
            # LAST view with view_ts <= ts in that order (max ts, max id)
            order = np.lexsort((np.asarray(v_id), np.asarray(v_ts)))
            sv_ts = np.asarray(v_ts)[order]
            sv_id = np.asarray(v_id)[order]
        for t in p_ts:
            if not v_ts:
                out_match.append(None)
                out_mts.append(None)
                continue
            pos = int(np.searchsorted(sv_ts, t, side="right")) - 1
            if pos < 0:
                out_match.append(None)
                out_mts.append(None)
            else:
                # among equal-max-ts views, take the max id: scan back over
                # the equal-ts run (sorted by id within ts, so `pos` already
                # points at the max id of that run)
                out_match.append(int(sv_id[pos]))
                out_mts.append(int(sv_ts[pos]))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(p_ts),
                "purchase_id": [int(x) for x in p_id],
                "asof_view_id": out_match,
                "view_ts_micros": out_mts,
                "seq": [seq] * len(p_ts),
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, purchase_id long, asof_view_id long, "
            "view_ts_micros long, seq long"
        ),
        stateStructType=(
            "v_ts array<long>, v_id array<long>, p_ts array<long>, "
            "p_id array<long>, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    # Highest-seq emission per purchase = match over the user's FULL history
    return spark.sql(
        f"SELECT user_id, purchase_id, "
        f"max_by(asof_view_id, seq) AS asof_view_id, "
        f"max_by(view_ts_micros, seq) AS view_ts_micros "
        f"FROM {query_name} GROUP BY user_id, purchase_id"
    )


def run_asof_stream_evicting(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Production form of :func:`run_asof_stream`: the same out-of-order-
    tolerant streaming as-of join, with WATERMARK-DRIVEN finalization and
    state EVICTION so per-user state is bounded by the late-data horizon
    instead of growing with history.

    Each batch: append arrivals to the per-user buffers, then
    - FINALIZE every purchase with ts < watermark (no view with a smaller
      ts can still arrive, so its match can never change again): emit it
      with ``final = true`` and drop it from state;
    - still emit provisional (``final = false``) matches for the pending
      purchases, so downstream sees fresh results at all times;
    - EVICT views that can no longer match anything: every view except
      the newest one at-or-below the watermark (any future purchase has
      ts >= watermark, and its best match at-or-below the watermark is
      exactly that newest view; views above the watermark all stay).

    The finalized rows are append-only facts; provisional rows supersede
    by emission seq. Tests pin (a) final+latest-provisional == the batch
    as-of join, (b) a finalized purchase is never re-emitted, and (c)
    eviction actually shrinks state below full history."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        read_event_stream(spark, source_dir, max_files_per_trigger)
        .where(F.col("event_type").isin("view", "purchase"))
        .withWatermark("ts", delay)
    )

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            v_ts, v_id, p_ts, p_id, seq = state.get
            v_ts, v_id, p_ts, p_id = (
                list(v_ts), list(v_id), list(p_ts), list(p_id),
            )
        else:
            v_ts, v_id, p_ts, p_id, seq = [], [], [], [], 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            micros = (
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            )
            for t, i, et in zip(micros, pdf["event_id"], pdf["event_type"]):
                if et == "view":
                    v_ts.append(int(t))
                    v_id.append(int(i))
                else:
                    p_ts.append(int(t))
                    p_id.append(int(i))
        seq += 1
        wm = state.getCurrentWatermarkMs() * 1000  # micros

        def best(t):
            if not v_ts:
                return None, None
            order = np.lexsort((np.asarray(v_id), np.asarray(v_ts)))
            sv_ts = np.asarray(v_ts)[order]
            sv_id = np.asarray(v_id)[order]
            pos = int(np.searchsorted(sv_ts, t, side="right")) - 1
            if pos < 0:
                return None, None
            return int(sv_id[pos]), int(sv_ts[pos])

        rows = []
        keep_p_ts, keep_p_id = [], []
        for t, i in zip(p_ts, p_id):
            m_id, m_ts = best(t)
            final = bool(t < wm)
            rows.append((int(i), m_id, m_ts, final))
            if not final:
                keep_p_ts.append(t)
                keep_p_id.append(i)
        # evict: keep views >= watermark plus the single newest below it
        below = [(t, i) for t, i in zip(v_ts, v_id) if t < wm]
        keep = [(t, i) for t, i in zip(v_ts, v_id) if t >= wm]
        if below:
            keep.append(max(below))
        state.update(
            (
                [t for t, _ in keep],
                [i for _, i in keep],
                keep_p_ts,
                keep_p_id,
                seq,
            )
        )
        if rows:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(rows),
                    "purchase_id": [r[0] for r in rows],
                    "asof_view_id": [r[1] for r in rows],
                    "view_ts_micros": [r[2] for r in rows],
                    "final": [r[3] for r in rows],
                    "seq": [seq] * len(rows),
                    "state_views": [len(keep)] * len(rows),
                }
            )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, purchase_id long, asof_view_id long, "
            "view_ts_micros long, final boolean, seq long, state_views long"
        ),
        stateStructType=(
            "v_ts array<long>, v_id array<long>, p_ts array<long>, "
            "p_id array<long>, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    # finalized rows are authoritative; pending purchases resolve to their
    # highest-seq provisional emission
    return spark.sql(
        f"SELECT user_id, purchase_id, "
        f"max_by(asof_view_id, struct(CAST(final AS INT), seq)) "
        f"  AS asof_view_id, "
        f"max(CAST(final AS INT)) = 1 AS finalized "
        f"FROM {query_name} GROUP BY user_id, purchase_id"
    )


def run_funnel_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming view→click→purchase funnel with WATERMARK FINALIZATION —
    the live twin of the oracle-checked ``event_funnel`` batch query
    (its semantics: per-user minima of each stage's FIRST event, strict
    ordering between the firsts).

    Per-user state is three longs (first view/click/purchase micros) —
    O(1) regardless of history, and correct under arbitrarily
    out-of-order arrival because each field is a running min. A user
    FINALIZES once every stage min exists and sits below the watermark:
    no future event (ts ≥ watermark) can lower any min or flip the
    strict-order flags, so the row is an immutable fact; the user is
    marked done, never re-emitted, and subsequent events for them are
    ignored without state growth. Pending users re-emit their current
    provisional row each batch (update mode), superseded by seq.

    At scale this is the canonical shape for funnel/attribution jobs:
    key-partitioned constant-size state, watermark-bounded reprocessing,
    append-only finalized facts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withWatermark("ts", delay)

    NONE = -1

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            fv, fc, fp, done, seq = state.get
        else:
            fv, fc, fp, done, seq = NONE, NONE, NONE, False, 0
        seq += 1
        if done:
            state.update((fv, fc, fp, done, seq))
            return
        for pdf in pdfs:
            if not len(pdf):
                continue
            micros = pdf["ts"].astype("datetime64[us]").astype("int64")
            for t, et in zip(micros, pdf["event_type"]):
                t = int(t)
                if et == "view" and (fv == NONE or t < fv):
                    fv = t
                elif et == "click" and (fc == NONE or t < fc):
                    fc = t
                elif et == "purchase" and (fp == NONE or t < fp):
                    fp = t
        wm = state.getCurrentWatermarkMs() * 1000  # micros
        final = (
            fv != NONE
            and fc != NONE
            and fp != NONE
            and fv < wm
            and fc < wm
            and fp < wm
        )
        state.update((fv, fc, fp, bool(final), seq))
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "first_view_us": [None if fv == NONE else fv],
                "first_click_us": [None if fc == NONE else fc],
                "first_purchase_us": [None if fp == NONE else fp],
                "final": [bool(final)],
                "seq": [seq],
            }
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, first_view_us long, first_click_us long, "
            "first_purchase_us long, final boolean, seq long"
        ),
        stateStructType=(
            "fv long, fc long, fp long, done boolean, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT user_id, "
        f"max_by(first_view_us, seq) AS first_view_us, "
        f"max_by(first_click_us, seq) AS first_click_us, "
        f"max_by(first_purchase_us, seq) AS first_purchase_us, "
        f"max(CAST(final AS INT)) = 1 AS finalized "
        f"FROM {query_name} GROUP BY user_id"
    )


def run_scd2_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, state_dir: str
) -> DataFrame:
    """Incremental SCD Type-2 maintenance: per micro-batch, merge the
    batch's change events into a persistent dimension-history table —
    the streaming counterpart of ``history.scd2_user_event_history``
    (same collapse-consecutive-repeats + valid_from/valid_to stamping),
    maintained without ever re-scanning history.

    Merge recipe per batch: load the state's OPEN rows (is_current=1),
    turn each into a pseudo-event at its valid_from (event_id −1, so it
    sorts before any real event at the same timestamp), union the batch's
    events, and run the standard per-user collapse window over that tiny
    union. The first collapsed row per user re-emits the open row —
    extended in place if the batch continues the same state, or closed
    with a valid_to if the batch moved on. Closed rows and untouched
    users pass through unchanged. State lands copy-on-write in versioned
    subdirs (the ``run_incremental_rollup`` pattern — vN is never read
    while vN+1 writes; with Delta/Iceberg this is ``MERGE INTO``).

    Correctness requires batches to arrive per-user time-ordered — stage
    with ``stage_stream_source_ordered`` (non-overlapping ranges replayed
    oldest-first); the hash-partitioned stager would interleave past and
    future and corrupt the open rows. State size is bounded by users ×
    state changes, never event volume; every window is partitioned by
    user_id. Tests pin stream-final state == the batch twin across
    multiple micro-batches.
    """
    from pyspark.sql import Window

    def _latest_version(path: str) -> tuple[int, str | None]:
        if not os.path.isdir(path):
            return 0, None
        vs = sorted(d for d in os.listdir(path) if d.startswith("v"))
        return (int(vs[-1][1:]), os.path.join(path, vs[-1])) if vs else (0, None)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        ev = batch_df.select("user_id", "event_type", "ts", "event_id")
        if ev.isEmpty():
            return
        ver, cur_path = _latest_version(state_dir)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        if cur_path is not None:
            state = sp.read.parquet(cur_path)
            affected = ev.select("user_id").distinct()
            # untouched users + already-closed rows pass through verbatim
            keep = state.join(affected, "user_id", "left_anti").unionByName(
                state.join(affected, "user_id", "left_semi").where(
                    F.col("is_current") == 0
                )
            )
            open_rows = state.join(affected, "user_id", "left_semi").where(
                F.col("is_current") == 1
            )
            pseudo = open_rows.select(
                "user_id",
                F.col("state").alias("event_type"),
                F.col("valid_from").alias("ts"),
                F.lit(-1).cast("long").alias("event_id"),
            )
            combined = pseudo.unionByName(ev)
        else:
            keep = None
            combined = ev
        changes = (
            combined.withColumn("prev", F.lag("event_type").over(w))
            .where(
                F.col("prev").isNull()
                | (F.col("prev") != F.col("event_type"))
            )
            .withColumn("next_ts", F.lead("ts").over(w))
        )
        fresh = changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.col("next_ts").alias("valid_to"),
            F.when(F.col("next_ts").isNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_current"),
        )
        merged = fresh if keep is None else keep.unionByName(fresh)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{ver + 1:06d}")
        )

    q = (
        read_event_stream(spark, source_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    _, final_path = _latest_version(state_dir)
    ts_fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return spark.read.parquet(final_path).select(
        "user_id",
        "state",
        F.date_format("valid_from", ts_fmt).alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to", ts_fmt), F.lit("9999-12-31")
        ).alias("valid_to"),
        "is_current",
    )


def stage_documents_source(
    spark: SparkSession, sf_dir: str, source_dir: str
) -> str:
    """Stage the documents table as a multi-file stream source (4 splits —
    corpus order is irrelevant to the card maintenance below, so the
    plain hash split is fine here, unlike the watermark jobs)."""
    load_table(spark, sf_dir, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(source_dir)
    return source_dir


def run_dataset_card_stream(
    spark: SparkSession, source_dir: str, checkpoint_dir: str, state_dir: str
) -> DataFrame:
    """Incremental dataset-card maintenance: as document batches arrive,
    keep the per-source release card (doc count, token count, exact
    distinct-content count) current without re-scanning the corpus — the
    streaming twin of ``pipeline.dataset_card_summary``'s volume/dup
    columns, and the continuous-ingestion counterpart every data-release
    dashboard needs.

    State per version (copy-on-write dirs, the ``run_incremental_rollup``
    pattern): an additive counts table (source → n_docs, total_tokens)
    folded per batch, and a distinct (source, sha) ledger union-merged
    per batch — ASSOCIATIVE state, so any batch split yields the same
    final card (pinned in tests against the batch query). The sha ledger
    is exact and bounded by distinct corpus content; at 100 TB the same
    plumbing takes the mergeable HLL sketch (``operators/sketches.py``)
    when an estimated dup rate is acceptable — counts stay exact either
    way.
    """
    def _latest_version(path: str) -> tuple[int, str | None]:
        if not os.path.isdir(path):
            return 0, None
        vs = sorted(d for d in os.listdir(path) if d.startswith("v"))
        return (int(vs[-1][1:]), os.path.join(path, vs[-1])) if vs else (0, None)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        t = F.coalesce(F.col("text"), F.lit(""))
        per = batch_df.select(
            "source",
            F.sha2(t, 256).alias("sha"),
            F.size(F.filter(F.split(t, " "), lambda x: x != ""))
            .cast("long")
            .alias("toks"),
        )
        inc_counts = per.groupBy("source").agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
        inc_shas = per.select("source", "sha").distinct()
        ver, cur_path = _latest_version(state_dir)
        if cur_path is not None:
            cur_counts = sp.read.parquet(os.path.join(cur_path, "counts"))
            cur_shas = sp.read.parquet(os.path.join(cur_path, "shas"))
            counts = (
                cur_counts.unionByName(inc_counts)
                .groupBy("source")
                .agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("total_tokens").cast("long").alias("total_tokens"),
                )
            )
            shas = cur_shas.unionByName(inc_shas).distinct()
        else:
            counts, shas = inc_counts, inc_shas
        nxt = os.path.join(state_dir, f"v{ver + 1:06d}")
        counts.write.mode("overwrite").parquet(os.path.join(nxt, "counts"))
        shas.write.mode("overwrite").parquet(os.path.join(nxt, "shas"))

    schema = spark.read.parquet(source_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    _, final_path = _latest_version(state_dir)
    counts = spark.read.parquet(os.path.join(final_path, "counts"))
    nd = (
        spark.read.parquet(os.path.join(final_path, "shas"))
        .groupBy("source")
        .agg(F.countDistinct("sha").cast("long").alias("n_distinct_texts"))
    )
    return counts.join(nd, "source").select(
        "source", "n_docs", "n_distinct_texts", "total_tokens"
    )


def run_anomaly_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING anomaly detection via ``applyInPandasWithState``: per
    event_type, flag events whose integer-cents value deviates more than
    3σ from the running mean/std of all strictly-earlier (ts, event_id)
    same-type events with >= 30 priors — the live form of the
    oracle-checked ``stream_anomaly_zscore`` batch twin.

    OUT-OF-ORDER TOLERANT the same way ``run_asof_stream`` is: because a
    late-arriving earlier event changes the prior-statistics of every
    later event, the state buffers the full (ts, id, cents) history per
    type and each batch re-scores and re-emits the current anomaly list
    with a monotonically increasing ``seq``; the highest-seq emission per
    type is the correct answer over everything seen so far (pytest pins
    final state == batch twin). A per-type SENTINEL row (event_id = -1,
    cents = current anomaly count) is emitted every batch so consumers can
    identify the freshest seq even when the anomaly list shrinks to empty.

    At 100 TB with ordered-enough arrival + a watermark, the buffered
    history collapses to three longs per type (n, Σcents, Σcents²) updated
    Welford-style — the eviction twin of this job, exactly as
    ``run_asof_stream_evicting`` bounds the as-of buffer. z rounds with
    :func:`functions.spark_round`."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(spark, source_dir, max_files_per_trigger)

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            e_ts, e_id, e_cents, seq = state.get
            e_ts, e_id, e_cents = list(e_ts), list(e_id), list(e_cents)
        else:
            e_ts, e_id, e_cents, seq = [], [], [], 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            micros = (
                pdf["ts"].astype("datetime64[us]").astype("int64")
            )
            cents = (
                (pdf["value"] * 100.0).round(0).astype("int64")
            )
            e_ts.extend(int(t) for t in micros)
            e_id.extend(int(i) for i in pdf["event_id"])
            e_cents.extend(int(c) for c in cents)
        seq += 1
        state.update((e_ts, e_id, e_cents, seq))

        order = np.lexsort((np.asarray(e_id), np.asarray(e_ts)))
        sc = np.asarray(e_cents, dtype="int64")[order]
        sid = np.asarray(e_id, dtype="int64")[order]
        out_id, out_cents, out_z = [], [], []
        s = s2 = 0
        for k in range(len(sc)):
            c = int(sc[k])
            if k >= 30:
                n = float(k)
                mean = float(s) / n
                var = (s2 - float(s) * s / n) / n
                std = math.sqrt(var)
                if std > 0:
                    z = spark_round((c - mean) / std, 6)
                    if abs(z) > 3.0:
                        out_id.append(int(sid[k]))
                        out_cents.append(c)
                        out_z.append(z)
            s += c
            s2 += c * c
        et = str(key[0])
        yield pd.DataFrame(
            {
                "event_type": [et] * (len(out_id) + 1),
                "event_id": out_id + [-1],
                "cents": out_cents + [len(out_id)],
                "z": out_z + [None],
                "seq": [seq] * (len(out_id) + 1),
            }
        )

    out = stream.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=(
            "event_type string, event_id long, cents long, z double, "
            "seq long"
        ),
        stateStructType=(
            "e_ts array<long>, e_id array<long>, e_cents array<long>, "
            "seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    # freshest seq per type; drop sentinels for the anomaly view
    return spark.sql(
        f"WITH latest AS (SELECT event_type, max(seq) AS seq "
        f"FROM {query_name} GROUP BY event_type) "
        f"SELECT t.event_type, t.event_id, t.cents, t.z "
        f"FROM {query_name} t JOIN latest USING (event_type, seq) "
        f"WHERE t.event_id >= 0"
    )


def run_heavy_hitters_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    k: int = 4,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING heavy hitters via the Misra-Gries summary: O(k) state
    TOTAL (k (type, count) counters + the processed-row count), unlike the
    history-buffering jobs — this is the bounded-state end of the
    spectrum, the shape that survives unbounded streams at 100 TB.

    Guarantee (pytest-pinned): after processing n rows, every event_type
    with true frequency > n/k is present in the summary, and each
    counter underestimates its true count by at most n/k. The summary
    itself is arrival-order-dependent (inherent to MG — two equally
    correct runs can differ inside the error band), so the test checks
    the GUARANTEES against exact batch counts rather than row equality;
    within each micro-batch rows fold in (ts, event_id) order so a given
    staged source replays identically.

    Each trigger emits the full current summary with a seq; the
    highest-seq rows are the live answer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withColumn("g", F.lit(1))

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            keys, counts, total, seq = state.get
            summary = dict(zip(keys, counts))
        else:
            summary, total, seq = {}, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            order = np.lexsort(
                (
                    pdf["event_id"].to_numpy(),
                    pdf["ts"].astype("datetime64[us]").astype("int64"),
                )
            )
            for et in pdf["event_type"].to_numpy()[order]:
                et = str(et)
                total += 1
                if et in summary:
                    summary[et] += 1
                elif len(summary) < k:
                    summary[et] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    summary = {
                        t: c - 1 for t, c in summary.items() if c > 1
                    }
        seq += 1
        items = sorted(summary.items())
        state.update(
            (
                [t for t, _ in items],
                [int(c) for _, c in items],
                int(total),
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [t for t, _ in items],
                "est_count": [int(c) for _, c in items],
                "n_processed": [int(total)] * len(items),
                "seq": [seq] * len(items),
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType=(
            "event_type string, est_count long, n_processed long, seq long"
        ),
        stateStructType=(
            "keys array<string>, counts array<long>, total long, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT event_type, est_count, n_processed FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_sprt_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING sequential test: the live form of the oracle-checked
    ``sprt_sequential_ab`` batch twin — the whole point of a sequential
    test is to run WHILE data arrives and stop at first boundary
    crossing. State is the per-day (events, purchases) count map
    (calendar-bound, ~O(days)); each batch re-derives the cumulative LLR
    walk over the day-ordered counts, so the result is exact under
    arbitrary out-of-order arrival (late events for an early day shift
    the whole downstream walk — same re-derivation argument as
    ``run_anomaly_stream``). Emits one summary row per batch with seq;
    pytest pins the final row against the batch twin's constants.

    Per-day LLR terms accumulate as exact :func:`functions.spark_decimal`
    values at 12 dp, mirroring the twin's round-12 + DECIMAL(38,12)
    window sum."""
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tscd_datalake_adapter_spark.operators.analytics import (
        _SPRT_BOUND,
        _SPRT_LLR_NEG,
        _SPRT_LLR_POS,
    )

    lp, ln_, bound = (
        float(_SPRT_LLR_POS),
        float(_SPRT_LLR_NEG),
        float(_SPRT_BOUND),
    )
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withColumn("g", F.lit(1))

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            days, n_ev, n_pu, seq = state.get
            counts = {
                d: [int(a), int(b)] for d, a, b in zip(days, n_ev, n_pu)
            }
        else:
            counts, seq = {}, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            day_s = pdf["ts"].dt.strftime("%Y-%m-%d")
            purch = (pdf["event_type"] == "purchase").astype(int)
            for d, p in zip(day_s, purch):
                c = counts.setdefault(str(d), [0, 0])
                c[0] += 1
                c[1] += int(p)
        seq += 1
        items = sorted(counts.items())
        state.update(
            (
                [d for d, _ in items],
                [c[0] for _, c in items],
                [c[1] for _, c in items],
                seq,
            )
        )
        cum = Decimal(0)
        first_day, decision = "", "continue"
        last_cum = 0.0
        for d, (n, p) in items:
            cum += spark_decimal(p * lp + (n - p) * ln_, 12)
            last_cum = float(cum)
            if decision == "continue":
                if last_cum >= bound:
                    first_day, decision = d, "accept_h1"
                elif last_cum <= -bound:
                    first_day, decision = d, "accept_h0"
        yield pd.DataFrame(
            {
                "first_decision_day": [first_day],
                "decision": [decision],
                "cum_llr_final": [spark_round(last_cum, 6)],
                "n_days": [len(items)],
                "seq": [seq],
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType=(
            "first_decision_day string, decision string, "
            "cum_llr_final double, n_days long, seq long"
        ),
        stateStructType=(
            "days array<string>, n_ev array<long>, n_pu array<long>, "
            "seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT * FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_drift_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING distribution-drift monitor with O(bins) state: maintain
    two additive value histograms (reference = even event ids, current =
    odd — an arrival-order-free split, so the monitor is exact under any
    delivery order) and emit the PSI between them every micro-batch —
    the live sibling of the batch ``psi_drift_totalprice`` readout and
    the third bounded-state example beside the Misra-Gries summary and
    the SPRT day map.

    PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over 10 fixed-width value bins with ε
    smoothing; ln terms accumulate as exact
    :func:`functions.spark_decimal` values at 12 dp, so the emitted number is a deterministic function of the
    final counts (pytest recomputes it from the batch table)."""
    import math
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_bins, width, eps = 10, 35.0, 1e-6
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withColumn("g", F.lit(1))

    def _psi(ref, cur):
        nr, nc = max(1, sum(ref)), max(1, sum(cur))
        total = Decimal(0)
        for r, c in zip(ref, cur):
            p = r / nr + eps
            q = c / nc + eps
            term = (p - q) * math.log(p / q)
            total += spark_decimal(term, 12)
        return float(total)

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            ref, cur, seq = state.get
            ref, cur = list(ref), list(cur)
        else:
            ref, cur, seq = [0] * n_bins, [0] * n_bins, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            bins = (
                (pdf["value"] / width)
                .astype("int64")
                .clip(0, n_bins - 1)
            )
            parity = (pdf["event_id"] % 2).astype(int)
            for b, pa in zip(bins, parity):
                (cur if pa else ref)[int(b)] += 1
        seq += 1
        state.update((ref, cur, seq))
        yield pd.DataFrame(
            {
                "psi": [spark_round(_psi(ref, cur), 6)],
                "n_ref": [sum(ref)],
                "n_cur": [sum(cur)],
                "seq": [seq],
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType="psi double, n_ref long, n_cur long, seq long",
        stateStructType=(
            "ref array<long>, cur array<long>, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT * FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_ddsketch_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING DDSketch quantile telemetry: maintain the log-bucket count
    array of the event value stream (the same gamma = 1.01/0.99 sketch as
    the batch ``ddsketch_quantiles`` query) and emit p50/p90/p99 estimates
    every micro-batch — live latency/price percentiles with the 1% relative
    -error guarantee, O(buckets) state forever. The bucket array MERGES BY
    ADDITION (the sketch's defining property), which is exactly why this
    state shape survives repartitioning, backfill, and any arrival order:
    the final sketch is a deterministic function of the multiset of values
    seen, pinned in pytest against a batch recompute plus the alpha bound
    against the exact quantile.

    Values are bucketed on integer cents: cents >= 1 go to
    ``ceil(ln(cents)/ln_gamma)`` (estimates divide back by 100), cents = 0
    to a dedicated zero bucket (DDSketch's standard zero handling)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ln_g = 0.020000666707  # ln((1+0.01)/(1-0.01)), 12 dp — batch twin's literal
    n_buckets = 600  # covers cents up to exp(600*ln_g) ~ 1.6e5 dollars
    qs = (0.5, 0.9, 0.99)
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withColumn("g", F.lit(1))

    def _estimate(counts, zero, qf):
        n = zero + sum(counts)
        if n == 0:
            return 0.0
        rank = math.ceil(qf * n)
        if rank <= zero:
            return 0.0
        cum = zero
        for i, c in enumerate(counts):
            cum += c
            if c and cum >= rank:
                est_cents = 2.0 * math.exp(i * ln_g) / (math.exp(ln_g) + 1.0)
                return spark_round(est_cents / 100.0, 6)
        return 0.0

    def _update(key, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            counts, zero, seq = state.get
            counts = list(counts)
        else:
            counts, zero, seq = [0] * n_buckets, 0, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            cents = (
                (pdf["value"].astype("float64") * 100.0)
                .round()
                .astype("int64")
                .clip(lower=0)
            )
            zero += int((cents == 0).sum())
            pos = cents[cents > 0].to_numpy()
            if len(pos):
                idx = np.ceil(np.log(pos) / ln_g).astype("int64").clip(
                    0, n_buckets - 1
                )
                binned = np.bincount(idx, minlength=n_buckets)
                counts = [a + int(b) for a, b in zip(counts, binned)]
        seq += 1
        state.update((counts, zero, seq))
        yield pd.DataFrame(
            {
                "p50": [_estimate(counts, zero, qs[0])],
                "p90": [_estimate(counts, zero, qs[1])],
                "p99": [_estimate(counts, zero, qs[2])],
                "n": [zero + sum(counts)],
                "seq": [seq],
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType="p50 double, p90 double, p99 double, n long, seq long",
        stateStructType="counts array<long>, zero long, seq long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT * FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_bitmap_distinct_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING exact distinct-user counter with BITMAP state: the
    32-ids-per-word OR-merge of the batch ``bitmap_distinct_rollup``, kept
    as applyInPandasWithState state — every micro-batch ORs the arriving
    user ids into the word array and emits the exact popcount-sum. The
    state is O(|id-space|/32) FOREVER (vs a distinct-ledger that grows
    with cardinality and a sketch that rounds): for dashboards that need
    exact "users seen so far" on a bounded id universe this beats both,
    and because OR is commutative/idempotent the count is exact under any
    arrival order, replay, or duplication — the strongest possible
    delivery contract. Final count == batch count(DISTINCT) pinned in
    pytest.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_words = 512  # covers user_id < 16384 at every fixture SF
    stream = read_event_stream(
        spark, source_dir, max_files_per_trigger
    ).withColumn("g", F.lit(1))

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            words, seq = state.get
            words = list(words)
        else:
            words, seq = [0] * n_words, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            for uid in pdf["user_id"].astype("int64"):
                w = int(uid) >> 5
                if 0 <= w < n_words:
                    words[w] |= 1 << (int(uid) & 31)
        seq += 1
        state.update((words, seq))
        yield pd.DataFrame(
            {
                "distinct_users": [sum(bin(w).count("1") for w in words)],
                "seq": [seq],
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType="distinct_users long, seq long",
        stateStructType="words array<long>, seq long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT * FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_type_stats_tws_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-type running stats on Spark 4's transformWithStateInPandas —
    the successor API to applyInPandasWithState (typed ValueState/
    ListState/MapState handles, timers, TTL) that new stateful operators
    should target. One ValueState cell per event_type holds (n, sum_cents,
    seq); every micro-batch emits the running count and exact running
    mean — cents stay integers in state, so the final numbers equal a
    batch recompute bit-for-bit under any arrival order (pinned in
    pytest).

    State is O(|types|); the same shape at 100 TB keys by whatever the
    dashboard groups by, and the typed-handle API (unlike the single
    state tuple of applyInPandasWithState) lets an operator grow new
    state fields without rewriting the whole tuple schema."""
    import pandas as pd

    try:  # the TWS python driver worker speaks protobuf to the JVM
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf package "
            "for its state-server protocol; it is absent in this "
            "environment (and installs are not permitted). The job body "
            "below is the ready path once the package is present."
        ) from exc

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # transformWithState requires the RocksDB state store provider; scope
    # the conf to this job (session-level, like ensure_engine_confs does)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = read_event_stream(spark, source_dir, max_files_per_trigger)

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
            StructField("seq", LongType()),
        ]
    )

    class TypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("stats", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents, seq = (
                self._s.get() if self._s.exists() else (0, 0, 0)
            )
            for pdf in rows:
                if not len(pdf):
                    continue
                n += int(len(pdf))
                cents += int(
                    (pdf["value"].astype("float64") * 100.0)
                    .round()
                    .astype("int64")
                    .sum()
                )
            seq += 1
            self._s.update((n, cents, seq))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n": [n],
                    "mean_value": [spark_round(cents / n / 100.0, 6)],
                    "seq": [seq],
                }
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n", LongType()),
            StructField("mean_value", DoubleType()),
            StructField("seq", LongType()),
        ]
    )
    out = stream.groupBy("event_type").transformWithStateInPandas(
        TypeStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT event_type, n, mean_value FROM {query_name} t "
        f"WHERE seq = (SELECT max(seq) FROM {query_name} t2 "
        f"             WHERE t2.event_type = t.event_type) "
        f"ORDER BY event_type"
    )


def run_image_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING perceptual-image dedup: a stream of (uid, PNG payload)
    rows is decoded on arrival (real ``png_codec`` inflate+unfilter inside
    ``phash_bands``), reduced to the 64-bit aHash as four 16-bit bands,
    and matched ONLINE against previously-seen images — state is keyed by
    the LSH blocking key ``(band_index, band_value)``, so each stateful
    task holds only its bucket's members (uid + full hash per member),
    the same distribution model as the batch ``image_phash_near_dup``
    candidate join. An arriving image compares against its bucket's
    members only; pairs at Hamming <= 3 are emitted as they are
    discovered (a pair can surface from several buckets — the returned
    result is the DISTINCT pair set, which pytest pins equal to the
    batch query over the same payloads).

    Scale shape: per-bucket state is bounded by bucket occupancy (16-bit
    bands keep random collisions ~4/65536 per pair); the four-band
    explode is a constant factor; no task ever sees the full corpus. The
    pigeonhole guarantee carries over from the batch form: any pair
    within Hamming 3 shares at least one intact band, so arrival order
    cannot lose a pair — every pair has a later member that probes the
    shared bucket."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tscd_datalake_adapter_spark.operators.multimodal import phash_bands
    from tscd_datalake_adapter_spark.sources import ensure_engine_confs

    ensure_engine_confs(spark)
    schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = reader.parquet(source_dir)
    bands = phash_bands(stream)

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            uids, m0, m1, m2, m3 = state.get
            members = [
                list(t) for t in zip(uids, m0, m1, m2, m3)
            ]
        else:
            members = []
        out_a, out_b, out_h = [], [], []
        for pdf in pdfs:
            if not len(pdf):
                continue
            order = pdf["uid"].to_numpy().argsort(kind="stable")
            for idx in order:
                uid = int(pdf["uid"].iloc[idx])
                hs = [int(pdf[f"h{j}"].iloc[idx]) for j in range(4)]
                for mu, a0, a1, a2, a3 in members:
                    ham = (
                        (hs[0] ^ a0).bit_count()
                        + (hs[1] ^ a1).bit_count()
                        + (hs[2] ^ a2).bit_count()
                        + (hs[3] ^ a3).bit_count()
                    )
                    if ham <= 3:
                        out_a.append(min(uid, mu))
                        out_b.append(max(uid, mu))
                        out_h.append(ham)
                members.append([uid, *hs])
        state.update(
            (
                [m[0] for m in members],
                [m[1] for m in members],
                [m[2] for m in members],
                [m[3] for m in members],
                [m[4] for m in members],
            )
        )
        yield pd.DataFrame(
            {"uid_a": out_a, "uid_b": out_b, "hamming": out_h}
        )

    out = bands.groupBy("b", "v").applyInPandasWithState(
        _update,
        outputStructType="uid_a long, uid_b long, hamming long",
        stateStructType=(
            "uids array<long>, m0 array<long>, m1 array<long>, "
            "m2 array<long>, m3 array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT DISTINCT uid_a, uid_b, hamming FROM {query_name}"
    )


def run_croston_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """STREAMING Croston intermittent-demand forecast: purchase events
    fold into a per-day count MAP held as state (additive and therefore
    order- and split-proof — a day's rows may straddle micro-batches),
    and each trigger re-runs the bounded Croston recursion over the
    completed map (demand days = the h60 day-hash sample, capped at 40,
    exactly the batch operator's series). Emissions carry a seq; the
    highest-seq row is the live forecast, pinned equal to
    ``croston_intermittent_forecast`` in pytest.

    Scale shape: state is the day→count map — bounded by the CALENDAR,
    not the stream (the ``run_dataset_card_stream`` pattern); the
    re-fold is O(40) Python-float steps per trigger, bit-identical to
    the engines' recursion because the arithmetic is libm-free."""
    import datetime
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        read_event_stream(spark, source_dir, max_files_per_trigger)
        .where(F.col("event_type") == "purchase")
        .select(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias(
                "day_idx"
            )
        )
        .withColumn("g", F.lit(1))
    )

    def _fold(day_counts: dict[int, int]):
        epoch = datetime.date(1970, 1, 1)
        series = []
        for day in sorted(day_counts):
            iso = (epoch + datetime.timedelta(days=day)).isoformat()
            hk = int(
                hashlib.md5(f"croston:{iso}".encode()).hexdigest()[:15], 16
            )
            if hk % 3 == 0:
                series.append((day, day_counts[day]))
        series = series[:40]
        if not series:
            return 0, None, None
        z = float(series[0][1])
        p = None
        for (d_prev, _), (d, q) in zip(series, series[1:]):
            i = float(d - d_prev)
            p = i if p is None else 0.2 * i + 0.8 * p
            z = 0.2 * q + 0.8 * z
        return len(series), z, p

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            days, counts, seq = state.get
            day_counts = dict(zip(days, counts))
        else:
            day_counts, seq = {}, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            for day, cnt in pdf["day_idx"].value_counts().items():
                day = int(day)
                day_counts[day] = day_counts.get(day, 0) + int(cnt)
        seq += 1
        items = sorted(day_counts.items())
        state.update(
            (
                [d for d, _ in items],
                [int(c) for _, c in items],
                seq,
            )
        )
        n, z, p = _fold(day_counts)
        yield pd.DataFrame(
            {
                "n_demand_days": [n],
                "croston_size": [z],
                "croston_interval": [p],
                "forecast_per_day": [
                    (z / p) if (z is not None and p) else None
                ],
                "seq": [seq],
            }
        )

    out = stream.groupBy("g").applyInPandasWithState(
        _update,
        outputStructType=(
            "n_demand_days long, croston_size double, "
            "croston_interval double, forecast_per_day double, seq long"
        ),
        stateStructType=(
            "days array<long>, counts array<long>, seq long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return spark.sql(
        f"SELECT n_demand_days, round(croston_size, 6) AS croston_size, "
        f"round(croston_interval, 6) AS croston_interval, "
        f"round(forecast_per_day, 6) AS forecast_per_day "
        f"FROM {query_name} "
        f"WHERE seq = (SELECT max(seq) FROM {query_name})"
    )


def run_delta_sink_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    table_path: str,
) -> DataFrame:
    """Structured Streaming sink into the in-repo delta_lite table with
    EXACTLY-ONCE semantics (r9): each micro-batch appends as one logged
    commit carrying a ``txn`` action ``{appId, version=batch_id}``, and
    a replayed batch (foreachBatch re-delivery after a crash/restart) is
    SKIPPED when its id is already recorded — the connector's streaming
    sink recipe, on the pure-Python log. availableNow trigger; returns
    the final table read through the log."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        last_txn_version,
        read_delta,
        write_delta,
    )

    app_id = "eventreplay-delta-sink"
    stream = read_event_stream(spark, source_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        try:
            done = last_txn_version(table_path, app_id)
        except FileNotFoundError:  # first batch creates the table
            done = None
        if done is not None and batch_id <= done:
            return  # replayed batch: already committed, exactly-once
        write_delta(
            batch_df,
            table_path,
            mode="append",
            txn={"appId": app_id, "version": batch_id},
            operation="STREAMING UPDATE",
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _await_terminated(q)
    return read_delta(spark, table_path)


def run_delta_replication_stream(
    spark: SparkSession,
    source_table: str,
    checkpoint_dir: str,
    target_table: str,
    operations: tuple[str, ...] | None = None,
) -> DataFrame:
    """LOG-TO-LOG streaming replication with end-to-end EXACTLY-ONCE
    (r10): the ``deltalite`` streaming SOURCE (version offsets straight
    off the source table's transaction log — no sidecar state) feeds the
    r9 txn-action SINK (per-micro-batch append commits into the target
    log, replayed batch ids skipped). Together they close the loop: a
    crash at ANY point — mid-batch, between source commit and sink
    commit, after sink commit but before checkpoint — resumes without
    loss or duplication, because the source offsets live in Spark's WAL
    and the sink's idempotence lives in the target log's txn actions.
    This is the CDC-fanout shape a lakehouse replicates tables with
    (region mirroring, dev snapshots, downstream materialization).

    ``operations`` filters source commits (e.g. ``("INGEST",)`` to
    replicate an ingest feed while skipping maintenance rewrites).
    Python streaming sources don't support availableNow (module
    docstring of the datasource), so this drives a processingTime
    trigger to quiescence and stops. Returns the replicated target read
    through its log."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        last_txn_version,
        read_delta,
        write_delta,
    )
    from tscd_datalake_adapter_spark.sources.deltalite_datasource import (
        DeltaLiteStreamDataSource,
    )

    try:
        spark.dataSource.register(DeltaLiteStreamDataSource)
    except Exception:  # already registered in this session
        pass
    app_id = f"deltalite-replicate:{os.path.abspath(source_table)}"
    reader = (
        spark.readStream.format("deltalite").option("path", source_table)
    )
    if operations:
        reader = reader.option("operations", ",".join(operations))
    stream = reader.load().drop("_commit_version", "_commit_timestamp")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        try:
            done = last_txn_version(target_table, app_id)
        except FileNotFoundError:
            done = None
        if done is not None and batch_id <= done:
            return  # replayed batch: already committed, exactly-once
        write_delta(
            batch_df,
            target_table,
            mode="append",
            txn={"appId": app_id, "version": batch_id},
            operation="STREAMING UPDATE",
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return read_delta(spark, target_table)


def run_cross_format_replication_stream(
    spark: SparkSession,
    source_table: str,
    checkpoint_dir: str,
    target_table: str,
    operations: tuple[str, ...] | None = None,
    source_format: str = "delta",
    target_format: str = "iceberg",
) -> DataFrame:
    """CROSS-FORMAT streaming replication, exactly-once, BOTH directions
    (r10 capstone; r11 adds the reverse per verdict item 3): a table in
    one in-repo format streams into a target in the other.

    - ``delta → iceberg``: the deltalite source's version offsets on the
      read side; the real Iceberg Spark sink's recipe on the write side
      — each micro-batch is one append snapshot carrying
      ``streaming-app-id``/``streaming-batch-id`` in its summary, and a
      replayed batch id at or below the recorded watermark is skipped
      (:func:`iceberg_lite.last_streaming_batch_id`).
    - ``iceberg → delta``: the iceberglite source's sequence-number
      offsets feed the delta txn-action sink — each micro-batch is one
      logged append commit carrying ``txn {appId, version=batch_id}``,
      replayed ids skipped (:func:`delta_lite.last_txn_version`).

    Either way the migrate-and-mirror shape holds: move a live table
    between formats with no loss, no duplication, and no downtime
    window; a crash at any point resumes from Spark's offset WAL on the
    read side and the target log/summary watermark on the write side.

    Same processingTime-to-quiescence drive as the delta-to-delta
    replication (Python sources lack availableNow). Returns the
    replicated target table read through its own format."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        last_txn_version,
        read_delta,
        write_delta,
    )
    from tscd_datalake_adapter_spark.sources.deltalite_datasource import (
        DeltaLiteStreamDataSource,
    )
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        last_streaming_batch_id,
        read_iceberg,
        write_iceberg,
    )
    from tscd_datalake_adapter_spark.sources.iceberglite_datasource import (
        IcebergLiteStreamDataSource,
    )

    if (source_format, target_format) not in (
        ("delta", "iceberg"),
        ("iceberg", "delta"),
    ):
        raise ValueError(
            "cross-format replication runs delta→iceberg or "
            f"iceberg→delta; got {source_format}→{target_format} "
            "(same-format replication is run_delta_replication_stream)"
        )
    ds = (
        DeltaLiteStreamDataSource
        if source_format == "delta"
        else IcebergLiteStreamDataSource
    )
    try:
        spark.dataSource.register(ds)
    except Exception:  # already registered in this session
        pass
    app_id = (
        f"{source_format}-to-{target_format}:"
        f"{os.path.abspath(source_table)}"
    )
    reader = spark.readStream.format(
        "deltalite" if source_format == "delta" else "iceberglite"
    ).option("path", source_table)
    if operations:
        reader = reader.option("operations", ",".join(operations))
    stream = reader.load().drop(
        *(
            ("_commit_version", "_commit_timestamp")
            if source_format == "delta"
            else ("_snapshot_id", "_committed_at_ms")
        )
    )

    if target_format == "iceberg":

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            done = last_streaming_batch_id(target_table, app_id)
            if done is not None and batch_id <= done:
                return  # replayed batch: already committed
            write_iceberg(
                batch_df,
                target_table,
                mode="append",
                operation="STREAMING UPDATE",
                summary_extra={
                    "streaming-app-id": app_id,
                    "streaming-batch-id": int(batch_id),
                },
            )

    else:

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            try:
                done = last_txn_version(target_table, app_id)
            except FileNotFoundError:  # first batch creates the table
                done = None
            if done is not None and batch_id <= done:
                return  # replayed batch: already committed
            write_delta(
                batch_df,
                target_table,
                mode="append",
                txn={"appId": app_id, "version": batch_id},
                operation="STREAMING UPDATE",
            )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    if target_format == "iceberg":
        return read_iceberg(spark, target_table)
    return read_delta(spark, target_table)
