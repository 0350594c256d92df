"""T1 timer service: synthesized ExplodeEvents for bombs whose client
died before emitting one; bombs already exploded are descheduled."""

from __future__ import annotations

import time
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

from play_with_pulsar_spark.schema import GAME_EVENT_SCHEMA
from play_with_pulsar_spark.streaming.pipeline import timer_service


def _mk_events():
    base = datetime(2024, 3, 1)
    rows = []

    def ev(offset, room, type_, name, x, y):
        rows.append(
            dict(offset=offset, room=room, ts=base, type=type_, name=name,
                 avatar="f", comment="", x=x, y=y, alive=True, list=None)
        )

    # room A: bomb1 set AND exploded by its client; bomb2 set, client died
    ev(0, "A", "UserJoinEvent", "p1", 1, 1)
    ev(1, "A", "SetBombEvent", "p1-b0001", 1, 1)
    ev(2, "A", "ExplodeEvent", "p1-b0001", 1, 1)
    ev(3, "A", "SetBombEvent", "p1-b0002", 2, 2)
    # room B: one orphaned bomb
    ev(0, "B", "UserJoinEvent", "p2", 5, 5)
    ev(1, "B", "SetBombEvent", "p2-b0003", 5, 5)
    return rows


def _timer_output(spark, rows, tmp_path, query_name, n_rows):
    """Run ``timer_service`` over ``rows`` until it has emitted
    ``n_rows`` explodes (or 60 s pass) and return them."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    df = spark.createDataFrame(pd.DataFrame(rows), GAME_EVENT_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "batch0"))

    stream = spark.readStream.schema(GAME_EVENT_SCHEMA).parquet(str(in_dir / "batch*"))
    out = timer_service(stream, explode_after_ms=1500)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # wait for the timers to fire (needs a trigger AFTER expiry)
        deadline = time.time() + 60
        got = []
        while time.time() < deadline:
            got = spark.sql(f"SELECT * FROM {query_name}").collect()
            if len(got) >= n_rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    return got


def test_timer_service_emits_orphan_explodes(spark, tmp_path):
    rows = _timer_output(spark, _mk_events(), tmp_path, "timer_out", 2)
    got = {(r.room, r.name): (r.x, r.y) for r in rows}
    # orphaned bombs got synthesized explodes at their set position
    assert got.get(("A", "p1-b0002")) == (2, 2)
    assert got.get(("B", "p2-b0003")) == (5, 5)
    # the client-exploded bomb must NOT be re-exploded
    assert ("A", "p1-b0001") not in got
    assert all(r.type == "ExplodeEvent" for r in rows)


def test_timer_service_reads_a_null_coordinate_as_zero(spark, tmp_path):
    """GAME_EVENT_SCHEMA declares x/y nullable and both folds read a
    null as 0 (Go's zero value). One null makes the worker's x column
    float64 with NaN; the timer still schedules the bomb, and its
    explode lands at x = 0."""
    base = datetime(2024, 3, 1)
    rows = [
        dict(offset=0, room="C", ts=base, type="UserJoinEvent", name="p3",
             avatar="f", comment="", x=1, y=1, alive=True, list=None),
        dict(offset=1, room="C", ts=base, type="SetBombEvent", name="p3-b0004",
             avatar="f", comment="", x=None, y=7, alive=True, list=None),
    ]
    got = _timer_output(spark, rows, tmp_path, "timer_null_out", 1)
    assert {(r.room, r.name): (r.x, r.y) for r in got} == {("C", "p3-b0004"): (0, 7)}


def test_timer_service_fires_while_room_active(spark, tmp_path):
    """A room with a steady event flow re-arms its timeout on every
    micro-batch, so the hasTimedOut branch may never run — the due
    bomb must be emitted from the data branch instead."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    base = datetime(2024, 3, 1)

    def batch(i, rows):
        df = spark.createDataFrame(pd.DataFrame(rows), GAME_EVENT_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(str(in_dir / f"batch{i}"))

    batch(0, [
        dict(offset=0, room="A", ts=base, type="UserJoinEvent", name="p1",
             avatar="f", comment="", x=1, y=1, alive=True, list=None),
        dict(offset=1, room="A", ts=base, type="SetBombEvent", name="p1-b0009",
             avatar="f", comment="", x=3, y=4, alive=True, list=None),
    ])

    stream = spark.readStream.schema(GAME_EVENT_SCHEMA).parquet(str(in_dir / "batch*"))
    out = timer_service(stream, explode_after_ms=1500)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("timer_active_out")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows, i = [], 1
        while time.time() < deadline:
            # keep the room busy: a new move event every poll interval
            batch(i, [
                dict(offset=1 + i, room="A", ts=base, type="UserMoveEvent",
                     name="p1", avatar="f", comment="", x=1 + (i % 3), y=1,
                     alive=True, list=None),
            ])
            i += 1
            rows = spark.sql("SELECT * FROM timer_active_out").collect()
            if rows:
                break
            time.sleep(0.3)
    finally:
        q.stop()

    got = {(r.room, r.name): (r.x, r.y) for r in rows}
    assert got.get(("A", "p1-b0009")) == (3, 4)


def test_periodic_events_t2(spark):
    """T2 scheduler stage: deterministic per-(tick, room) periodic
    events from a rate source (game.go:333-357 random bombs;
    game.go:413-425 map refresh)."""
    from play_with_pulsar_spark.streaming.pipeline import periodic_events

    out = periodic_events(spark, ["A", "B"], kind="SetBombEvent", interval_ms=100)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("t2_bombs").trigger(processingTime="200 milliseconds").start()
    )
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM t2_bombs").collect()
            if len(rows) >= 6:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 6
    assert {r.room for r in rows} == {"A", "B"}
    # random-bomb contract: ownership prefix (event.go:97-98), in grid
    assert all(r.name.startswith("random-") for r in rows)
    assert all(0 <= r.x < 30 and 0 <= r.y < 25 for r in rows)
    # deterministic: the same (room, tick) always derives the same event
    by_key = {}
    for r in rows:
        key = (r.room, r.tick)
        assert by_key.setdefault(key, (r.x, r.y, r.name)) == (r.x, r.y, r.name)


def test_periodic_map_updates_t2(spark):
    from play_with_pulsar_spark.streaming.pipeline import periodic_events

    out = periodic_events(spark, ["A"], kind="UpdateMapEvent", interval_ms=100)
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("t2_maps").trigger(processingTime="200 milliseconds").start()
    )
    try:
        deadline = time.time() + 45
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM t2_maps").collect()
            if len(rows) >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(rows) >= 2
    # sign-encoded obstacle lists (X2): decodable, in-grid, non-empty,
    # and the fold's decoder accepts them (cell 0, which cannot carry
    # a sign, must never be emitted destructible: -0 == 0)
    from play_with_pulsar_spark.operators.replay import GameState

    for r in rows:
        assert r.list
        assert all(0 <= abs(c) < 750 for c in r.list)
        gs = GameState()
        gs._obstacles_from_list(list(r.list))
        assert len(gs.obstacles) == len(set(abs(c) for c in r.list))
