"""Structured Streaming pipelines — the live half of the engine.

The reference's production topology is streaming end-to-end: a
Function consumes every room's event topic (regex subscription,
ScoreboardFunction.java:82-87), maintains per-(room,killer) counters
in BookKeeper state (:41-45), and emits running totals as a changelog
(:47-50) that clients compact with TableView (pulsar.go:160-167).

Spark mapping used here:

- the regex multi-topic source ≈ one streaming DataFrame with a
  ``room`` column (S5);
- the stateful counter ≈ a streaming grouped count in ``update``
  output mode — Spark's state store replaces ``context.incrCounter``
  (A1/A2); running totals per trigger ARE the changelog;
- TableView ≈ ``compaction.latest_per_key`` over the stream in
  ``complete`` mode (S6);
- effectively-once (T4) ≈ checkpointing + ``dropDuplicatesWithinWatermark``;
- the fold (F1-F9) ≈ ``applyInPandasWithState``: per-room GameState
  carried across micro-batches, events applied in offset order. The
  SAME transition code as batch replay — micro-batch boundaries
  cannot change the result (asserted in tests).

All functions accept any streaming DataFrame with the right columns;
the file-source helpers exist so tests and local runs can drive the
pipelines from parquet directories (swap for Kafka/Pulsar sources in
production — the query shapes do not change).
"""

from __future__ import annotations

import pickle

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..operators.replay import (
    SNAPSHOT_SCHEMA,
    STATE_COLS,
    STATE_SCHEMA,
    GameState,
    _plain_coords,
    _project_fold_columns,
    decode_state,
    encode_state,
    fold_room,
)


def stream_game_events(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """S2/S3 streaming source: tail a growing parquet log directory.
    ``maxFilesPerTrigger=1`` makes micro-batch boundaries deterministic
    for parity tests. Thin wrapper over the source-abstraction seam
    (``sources.stream_source.read_stream``) — swap for Kafka/Pulsar by
    changing the cfg dict only."""
    from ..sources.stream_source import read_stream

    return read_stream(
        spark,
        {"kind": "files", "path": path, "max_files_per_trigger": max_files_per_trigger},
    )


def streaming_kill_counts(events: DataFrame) -> DataFrame:
    """A1 as a streaming aggregation — identical logical plan to the
    batch form; with ``outputMode("update")`` every trigger emits the
    changed (room,killer) totals, exactly the Function's changelog
    emission (A2)."""
    from ..operators.scoreboard import kill_counts

    return kill_counts(events)


def streaming_windowed_type_counts(
    events: DataFrame, width: str = "1 minute", watermark: str = "10 minutes"
) -> DataFrame:
    """T8 as a streaming aggregation: tumbling event-time windows of
    per-type counts. The watermark bounds state (windows older than
    max-event-time − watermark are evicted); in complete mode the sink
    holds every window, so the final availableNow state equals the
    batch GROUP BY — which is exactly what the driver's oracle
    checks."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "type", "n")
    )


def deduped_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T4 effectively-once: drop redelivered events within the
    watermark by (room, offset) — state is bounded by the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["room", "offset"]
    )


# --- the streaming fold: GameState carried across micro-batches ---

# the state every stateful kernel here keeps per room: one opaque blob
_BLOB_STATE_SCHEMA = StructType([StructField("blob", BinaryType(), True)])


def _fold_step(pdf_iter, state: GroupState, every_k: int = 0):
    """The one state-store step of every stateful fold: decode the
    room's GameState, apply this micro-batch's events in offset order
    (``fold_room``, the batch fold), and write the state back. Returns
    the state and the ``(offset, blob)`` snapshots at each crossed
    ``every_k`` boundary."""
    gs = decode_state(state.get[0]) if state.exists else GameState()
    batches = [pdf for pdf in pdf_iter if not pdf.empty]
    snaps = []
    if batches:
        gs, snaps = fold_room(pd.concat(batches), gs, every_k=every_k)
    state.update((encode_state(gs),))
    return gs, snaps


def _fold_with_state(key, pdf_iter, state: GroupState):
    """streaming_fold's kernel: fold, then emit the room's current
    state table (update-mode changelog of the materialized state)."""
    gs, _ = _fold_step(pdf_iter, state)
    rows = gs.to_rows(key[0])
    if rows:
        yield pd.DataFrame(rows, columns=STATE_COLS)


def streaming_fold(events: DataFrame) -> DataFrame:
    """F1-F9 as a stateful streaming operator: one GameState per room,
    the same transition code as batch ``replay_state`` — determinism
    contract: final state is independent of micro-batch boundaries.

    Scale: state size is bounded per room (≤750 cells); rooms shard
    across the state store exactly like the batch fold shards across
    tasks. Timers (T1) need no replication — the log is self-contained
    (explode/undo events were emitted into it by clients).

    The state store has one partition per shuffle partition, and a
    checkpoint fixes that count when it is first started: a restarted
    query keeps it whatever ``spark.sql.shuffle.partitions`` says now.
    Checkpoints created while the session default was 8 keep 8."""
    return events.groupBy("room").applyInPandasWithState(
        _fold_with_state,
        outputStructType=STATE_SCHEMA,
        stateStructType=_BLOB_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_snapshots(events: DataFrame, every_k: int = 1000) -> DataFrame:
    """The time-travel checkpoint table of ``snapshot_states``,
    maintained from a stream: the same per-room state store as
    ``streaming_fold``, emitting one ``SNAPSHOT_SCHEMA`` row at each
    offset ``o`` with ``(o + 1) % every_k == 0`` (append mode). Each
    micro-batch folds only its own events, so per-batch cost is
    O(batch), never O(history).

    Written through a checkpointed parquet file sink
    (``writeStream.format("parquet")``), the table is exactly-once:
    a batch re-run after a restart is skipped by the sink's
    ``_spark_metadata`` log, and ``spark.read.parquet`` lists only
    the files that log records. ``state_at(log, table, k)`` then works
    over a live log (the reference's watch mode, watch.go:43-85).
    Unlike ``snapshot_states``, a room with no crossed boundary has no
    row; ``state_at`` folds it from the start.

    PRECONDITION (append-only log tail): each micro-batch carries, per
    room, only offsets above every offset an earlier batch carried."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def kernel(key, pdf_iter, state: GroupState):
        _, snaps = _fold_step(pdf_iter, state, every_k)
        if snaps:
            yield pd.DataFrame(
                [(key[0], off, blob) for off, blob in snaps], columns=SNAPSHOT_SCHEMA.names
            )

    return _project_fold_columns(events).groupBy("room").applyInPandasWithState(
        kernel,
        outputStructType=SNAPSHOT_SCHEMA,
        stateStructType=_BLOB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- T1 timer service: the clients' timer role as an operator ---

TIMER_OUT_SCHEMA = StructType(
    [
        StructField("room", StringType(), False),
        StructField("type", StringType(), False),
        StructField("name", StringType(), True),
        StructField("x", IntegerType(), True),
        StructField("y", IntegerType(), True),
    ]
)


def timer_service(events: DataFrame, explode_after_ms: int = 2000) -> DataFrame:
    """T1 (event.go:100-107): in the reference, *clients* run wall-
    clock timers that EMIT ExplodeEvents into the log 2 s after a
    SetBombEvent. This operator is that client role as a stateful
    streaming stage: per room it tracks pending (un-exploded) bombs;
    when the processing-time timeout fires, it emits synthesized
    ExplodeEvents for bombs whose timer elapsed — feed its output back
    into the log (the log stays self-contained, batch replay never
    needs timers). Bombs whose ExplodeEvent already arrived are
    descheduled, mirroring the duplicate-tolerant reference flow."""
    import time as _time

    def kernel(key, pdf_iter, state: GroupState):
        room = key[0]
        pending: dict[str, tuple[float, int, int]] = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        now = _time.time()
        out = []
        if not state.hasTimedOut:
            batches = [p for p in pdf_iter if not p.empty]
            if batches:
                evs = pd.concat(batches).sort_values("offset", kind="mergesort")
                # coordinates as the fold reads them: ints, 0 for a null
                xs, ys = _plain_coords(evs["x"]), _plain_coords(evs["y"])
                for t, name, x, y in zip(evs["type"].tolist(), evs["name"].tolist(), xs, ys):
                    if t == "SetBombEvent":
                        pending[name] = (now + explode_after_ms / 1000.0, x, y)
                    elif t == "ExplodeEvent":
                        pending.pop(name, None)  # client already emitted
        # Fire due bombs in BOTH branches: a busy room re-invokes this
        # kernel on every micro-batch, which re-arms the processing-time
        # timeout — if only the hasTimedOut branch fired, a room with a
        # steady event flow would postpone orphan explosions forever
        # (the reference explodes after a FIXED 2 s, event.go:100-107).
        for bomb in [b for b, (d, _, _) in pending.items() if d <= now]:
            _, x, y = pending.pop(bomb)
            out.append({"room": room, "type": "ExplodeEvent", "name": bomb, "x": x, "y": y})
        state.update((pickle.dumps(pending),))
        if pending:
            # arm for the EARLIEST pending deadline, not a fixed period
            earliest = min(d for d, _, _ in pending.values())
            state.setTimeoutDuration(max(1, int((earliest - now) * 1000)))
        if out:
            yield pd.DataFrame(out)

    return events.groupBy("room").applyInPandasWithState(
        kernel,
        outputStructType=TIMER_OUT_SCHEMA,
        stateStructType=_BLOB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --- T2 periodic jobs: the clients' scheduled-emitter role ---


def periodic_events(
    spark: SparkSession,
    rooms: list[str],
    kind: str = "SetBombEvent",
    interval_ms: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """T2 (game.go:333-357 random bomb every 2 s; game.go:413-425 map
    refresh every 60 s): the reference runs these as client-side
    tickers that EMIT events into the log. This operator is that role
    as a streaming stage: a rate-micro-batch source ticks once per
    ``interval_ms`` per room, and each tick deterministically derives
    the periodic event (position/name from xxhash64 of (tick, room,
    seed) — JVM-side, retry-stable). Feed the output back into the
    log, exactly like ``timer_service`` — batch replay then needs no
    scheduler because the emitted events are in the log (T1's
    self-contained-log insight applies to T2 identically).

    ``kind``: "SetBombEvent" (random bomb, name prefix ``random-`` —
    event.go:97-98 ownership test) or "UpdateMapEvent" (map refresh;
    the obstacle list itself is produced by the fold consumer reading
    the latest UserJoinEvent — here we emit the REFRESH TICK with a
    deterministically sampled obstacle list).
    """
    from ..schema import GRID_H, GRID_W

    n = len(rooms)
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", n)
        .option("advanceMillisPerBatch", interval_ms)
        .load()
    )  # columns: timestamp, value (monotone long)
    room_arr = F.array(*[F.lit(r) for r in rooms])
    tick = (F.col("value") / n).cast("long")
    room = room_arr[(F.col("value") % n).cast("int")]
    h = F.xxhash64(tick, room, F.lit(seed))
    cell = F.pmod(h, F.lit(GRID_W * GRID_H))
    x = F.pmod(cell, F.lit(GRID_W)).cast("int")
    y = (cell / GRID_W).cast("int")
    if kind == "SetBombEvent":
        # pmod, not abs: abs(Long.MIN_VALUE) overflows under ANSI mode
        name = F.concat(
            F.lit("random-"),
            F.conv(F.pmod(h, F.lit(1 << 60)).cast("string"), 10, 36),
        )
        return rate.select(
            room.alias("room"),
            F.lit("SetBombEvent").alias("type"),
            name.alias("name"),
            x.alias("x"),
            y.alias("y"),
            F.col("timestamp").alias("ts"),
            tick.alias("tick"),
        )
    if kind == "UpdateMapEvent":
        # deterministic obstacle sample: cells where a per-cell hash
        # clears a threshold (~N_DESTRUCTIBLE+N_INDESTRUCTIBLE of 750),
        # sign-encoded by one more hash bit (X2)
        cells = F.sequence(F.lit(0), F.lit(GRID_W * GRID_H - 1))
        ch = lambda c: F.xxhash64(c, tick, room, F.lit(seed))  # noqa: E731
        sampled = F.filter(cells, lambda c: F.pmod(ch(c), F.lit(100)) < 45)
        # cell 0 cannot be sign-encoded destructible (-0 == 0 would
        # silently decode as indestructible) — keep it positive
        encoded = F.transform(
            sampled,
            lambda c: F.when(
                (F.pmod(ch(c + 1000), F.lit(5)) < 3) & (c != 0), -c
            ).otherwise(c),
        )
        return rate.select(
            room.alias("room"),
            F.lit("UpdateMapEvent").alias("type"),
            encoded.alias("list"),
            F.col("timestamp").alias("ts"),
            tick.alias("tick"),
        )
    raise ValueError(f"unsupported periodic kind: {kind!r}")


def start_pinned(
    writer: DataStreamWriter, spark: SparkSession, path: str | None = None
) -> StreamingQuery:
    """Start ``writer`` (into ``path`` when given) with one shuffle
    partition per core, then restore the session's own
    ``spark.sql.shuffle.partitions``.

    A stateful stage runs one task and one state-store commit per
    shuffle partition every micro-batch, and a query fixes that count
    when it starts. At a plain session's 200, one small micro-batch
    took 8-30 s on a 4-core VM; at one per core, under a second."""
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, str(spark.sparkContext.defaultParallelism))
    try:
        return writer.start(path)
    finally:
        spark.conf.set(conf, prev)


def run_to_completion(stream_df: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame over all currently-available input
    (availableNow) into a memory sink and return the sink contents —
    the local test/dev harness. Stateful stages start at one shuffle
    partition per core (``start_pinned``)."""
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
    )
    start_pinned(writer, stream_df.sparkSession).awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")
