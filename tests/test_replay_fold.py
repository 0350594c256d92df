"""Golden and property tests for the replay fold (SURVEY §5.2.1/§5.2.3).

Transition semantics under test cite game-code/event.go line ranges;
these are the executable form of the reference's determinism-by-
construction correctness argument (docs/en/game1-introduce.md:91-97).
"""

from __future__ import annotations

import pytest

from play_with_pulsar_spark.operators.replay import (
    DESTRUCTIBLE,
    INDESTRUCTIBLE,
    GameState,
    encode_xy,
    fold_events,
)
from play_with_pulsar_spark.sources.fixtures import generate_room_events


def ev(type_, name=None, comment="", x=0, y=0, alive=True, lst=None, offset=0):
    return dict(offset=offset, room="r", ts=None, type=type_, name=name,
                avatar="fff", comment=comment, x=x, y=y, alive=alive, list=lst)


def test_join_sets_player_and_obstacles():
    # F4: event.go:72-83 — upsert player AND replace whole obstacle map
    s = fold_events([ev("UserJoinEvent", name="a", x=3, y=4,
                        lst=[encode_xy(1, 1), -encode_xy(2, 2)])])
    assert s.players["a"].pos == (3, 4) and s.players["a"].alive
    assert s.obstacles == {(1, 1): INDESTRUCTIBLE, (2, 2): DESTRUCTIBLE}


def test_move_guards():
    # P5/P6/P7: event.go:33-45
    base = [ev("UserJoinEvent", name="a", x=3, y=4, lst=[encode_xy(5, 5)])]
    s = fold_events(base + [ev("UserMoveEvent", name="a", x=-1, y=4)])
    assert s.players["a"].pos == (3, 4)  # out of bounds rejected
    s = fold_events(base + [ev("UserMoveEvent", name="a", x=5, y=5)])
    assert s.players["a"].pos == (3, 4)  # onto obstacle rejected
    s = fold_events(base + [ev("UserDeadEvent", name="a"),
                            ev("UserMoveEvent", name="a", x=4, y=4, alive=False)])
    assert s.players["a"].pos == (3, 4) and not s.players["a"].alive  # dead can't move
    s = fold_events(base + [ev("UserMoveEvent", name="a", x=4, y=4)])
    assert s.players["a"].pos == (4, 4)  # valid move applies


def test_dead_and_revive():
    # F2 (event.go:50-59): only existing players; F3 (event.go:61-68)
    s = fold_events([ev("UserDeadEvent", name="ghost")])
    assert "ghost" not in s.players
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("UserDeadEvent", name="a", comment="b"),
        ev("UserReviveEvent", name="a", x=7, y=8),
    ])
    assert s.players["a"].alive and s.players["a"].pos == (7, 8)


def test_set_bomb_guard_and_owner():
    # F5: event.go:85-109 (obstacle guard) + X6 owner split (game.go:244)
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[encode_xy(2, 2)]),
        ev("SetBombEvent", name="a-abcde", x=2, y=2),  # on obstacle → no-op
        ev("SetBombEvent", name="a-fghij", x=1, y=1),
    ])
    assert "a-abcde" not in s.bombs
    assert s.bombs["a-fghij"].owner == "a" and s.pos_bombs[(1, 1)] == "a-fghij"


def test_duplicate_bomb_explode_idempotence():
    # T5: event.go:118-132 — two bombs at one position; the second
    # explode finds the position slot cleared and no-ops
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("SetBombEvent", name="a-first", x=1, y=1),
        ev("SetBombEvent", name="a-secnd", x=1, y=1),  # overwrites pos slot
        ev("ExplodeEvent", name="a-secnd"),
        ev("ExplodeEvent", name="a-first"),  # pos slot gone → no-op
    ])
    assert "a-secnd" not in s.bombs
    assert "a-first" in s.bombs  # never removed — its explode no-oped
    assert (1, 1) in s.exploding and (1, 1) in s.flames


def test_flame_geometry_and_blocking():
    # X13/F6: utils.go:132-175 + event.go:141-163 — cross shape,
    # indestructible blocks the ray, destructible is destroyed and
    # flame passes through
    s = fold_events([
        ev("UserJoinEvent", name="a", x=10, y=10,
           lst=[encode_xy(12, 10), -encode_xy(8, 10)]),  # indestructible right, destructible left
        ev("SetBombEvent", name="a-bomba", x=10, y=10),
        ev("ExplodeEvent", name="a-bomba"),
    ])
    # right ray stops BEFORE the indestructible obstacle at x=12
    assert (11, 10) in s.flames and (12, 10) not in s.flames and (13, 10) not in s.flames
    # left ray destroys the destructible at x=8 and continues to reach x=4
    assert (8, 10) not in s.obstacles
    assert all((x, 10) in s.flames for x in range(4, 10))
    # vertical rays unobstructed: length 6 both ways
    assert (10, 4) in s.flames and (10, 16) in s.flames and (10, 3) not in s.flames
    # flame owner attribution (J2 input)
    assert s.flames[(11, 10)].owner == "a"


def test_undo_explode_clears_flames():
    # F7: event.go:178-195 — keyed by position, flames recomputed
    s = fold_events([
        ev("UserJoinEvent", name="a", x=10, y=10, lst=[]),
        ev("SetBombEvent", name="a-bomba", x=10, y=10),
        ev("ExplodeEvent", name="a-bomba"),
        ev("UndoExplodeEvent", x=10, y=10),
    ])
    assert s.flames == {} and s.exploding == {}


def test_overlapping_flames_deterministic():
    # two exploding bombs with overlapping flames: recompute iterates
    # sorted by position (engine's determinism choice; Go maps are
    # unordered — module docstring)
    s = fold_events([
        ev("UserJoinEvent", name="a", x=10, y=10, lst=[]),
        ev("SetBombEvent", name="a-alpha", x=10, y=10),
        ev("SetBombEvent", name="a-betab", x=12, y=10),
        ev("ExplodeEvent", name="a-alpha"),
        ev("ExplodeEvent", name="a-betab"),
    ])
    # overlap cell (11,10): the later-sorted bomb position wins — (12,10)
    assert s.flames[(11, 10)].bomb_name == "a-betab"


def test_bomb_move_keyed():
    # F8: event.go:197-217
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("SetBombEvent", name="a-bomba", x=1, y=1),
        ev("BombMoveEvent", name="a-bomba", x=2, y=1),
        ev("BombMoveEvent", name="ghost", x=9, y=9),  # missing → no-op
    ])
    assert s.bombs["a-bomba"].pos == (2, 1)
    assert s.pos_bombs == {(2, 1): "a-bomba"}


def test_update_map_replaces():
    # F9: event.go:219-225
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[encode_xy(3, 3)]),
        ev("UpdateMapEvent", lst=[-encode_xy(4, 4)]),
    ])
    assert s.obstacles == {(4, 4): DESTRUCTIBLE}


# --- generator + determinism properties (§5.2.1, §5.2.3) ---


def test_generator_deterministic_and_replayable():
    a = generate_room_events("room-x", 800, seed=42)
    b = generate_room_events("room-x", 800, seed=42)
    assert a == b  # same seed ⇒ same log
    c = generate_room_events("room-x", 800, seed=43)
    assert a != c
    # replay twice ⇒ identical state (determinism contract)
    s1, s2 = fold_events(a), fold_events(b)
    assert s1 == s2
    # prefix-fold then suffix-fold equals whole-fold (micro-batch
    # boundaries must not matter — streaming parity precondition)
    s_split = fold_events(a[400:], fold_events(a[:400]))
    assert s_split == fold_events(a)


def test_generator_exercises_edge_cases():
    evs = generate_room_events("room-y", 3000, seed=42)
    types = {e["type"] for e in evs}
    assert types >= {"UserJoinEvent", "UserMoveEvent", "UserDeadEvent",
                     "UserReviveEvent", "SetBombEvent", "ExplodeEvent",
                     "UndoExplodeEvent", "BombMoveEvent"}
    deaths = [e for e in evs if e["type"] == "UserDeadEvent"]
    assert any(e["name"] == e["comment"] for e in deaths), "need self-kills (P2)"
    assert any(e["name"] != e["comment"] for e in deaths), "need real kills"
    moves = [e for e in evs if e["type"] == "UserMoveEvent"]
    assert any(not (0 <= e["x"] < 30 and 0 <= e["y"] < 25) for e in moves), "need OOB moves (P5)"


def test_duplicate_event_injection_tolerated():
    # duplicate delivery of any single event must not corrupt state
    # beyond the reference's own tolerance (T5) — the fold never raises
    evs = generate_room_events("room-z", 1000, seed=7)
    doubled = []
    for i, e in enumerate(evs):
        doubled.append(e)
        if i % 97 == 0:
            doubled.append(dict(e))
    fold_events(doubled)  # must not raise


@pytest.mark.parametrize("upto", [0, 10, 500])
def test_spark_replay_matches_local_fold(spark, upto):
    # batch operator == single-threaded reference fold, per room
    from play_with_pulsar_spark.operators.replay import players_state, replay_state
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=3, events_per_room=600, seed=42).cache()
    state = replay_state(log, upto_offset=upto if upto else None)
    got = {
        (r["room"], r["name"]): (r["x"], r["y"], r["alive"])
        for r in players_state(state).collect()
    }
    want = {}
    for room in ["room-0000", "room-0001", "room-0002"]:
        evs = generate_room_events(room, 600, seed=42)
        if upto:
            evs = [e for e in evs if e["offset"] <= upto]
        s = fold_events(evs)
        for name, p in s.players.items():
            want[(room, name)] = (p.pos[0], p.pos[1], p.alive)
    assert got == want
    log.unpersist()


@pytest.mark.parametrize("upto", [350, 900, 1199])
def test_snapshot_state_at_equals_full_replay(spark, upto):
    # time-travel via snapshots + tail == full replay from offset 0
    from play_with_pulsar_spark.operators.replay import (
        players_state,
        replay_state,
        snapshot_states,
        state_at,
    )
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=2, events_per_room=1200, seed=42).cache()
    snaps = snapshot_states(log, every_k=400).cache()
    got = {
        (r.room, r.name): (r.x, r.y, r.alive)
        for r in players_state(state_at(log, snaps, upto)).collect()
    }
    want = {
        (r.room, r.name): (r.x, r.y, r.alive)
        for r in players_state(replay_state(log, upto_offset=upto)).collect()
    }
    assert got == want
    snaps.unpersist()
    log.unpersist()


def test_snapshot_interval_below_one_is_rejected_when_called(spark):
    """every_k < 1 has no snapshot points: both snapshot producers
    raise when called, not at the first action inside a worker."""
    from play_with_pulsar_spark.operators.replay import snapshot_states
    from play_with_pulsar_spark.sources.fixtures import game_event_log
    from play_with_pulsar_spark.streaming.pipeline import streaming_snapshots

    log = game_event_log(spark, n_rooms=1, events_per_room=10, seed=1)
    for every_k in (0, -5):
        with pytest.raises(ValueError, match="every_k"):
            snapshot_states(log, every_k=every_k)
        with pytest.raises(ValueError, match="every_k"):
            streaming_snapshots(log, every_k=every_k)


def test_state_at_resumes_from_a_blob_with_numpy_obstacle_keys(spark):
    """Snapshot tables and stream checkpoints written before fold_pdf
    handed the transitions plain Python values hold GameState pickles
    whose obstacle keys are numpy integers, decoded from the worker's
    Arrow→pandas obstacle arrays. Such a blob must still resume:
    state_at from it plus the tail equals a full replay on every
    state entity."""
    import collections
    import pickle

    import numpy as np

    from play_with_pulsar_spark.operators.replay import (
        SNAPSHOT_SCHEMA,
        replay_state,
        state_at,
    )
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    rooms, n, snap, upto = ["room-0000", "room-0001"], 1200, 599, 900
    log = game_event_log(spark, n_rooms=2, events_per_room=n, seed=42).cache()
    blobs = []
    for room in rooms:
        evs = [
            dict(e, list=None if e["list"] is None else np.asarray(e["list"], np.int32))
            for e in generate_room_events(room, n, seed=42)
            if e["offset"] <= snap
        ]
        old = fold_events(evs)
        assert all(isinstance(x, np.integer) for x, _ in old.obstacles)
        blobs.append((room, snap, pickle.dumps(old)))
    snaps = spark.createDataFrame(blobs, SNAPSHOT_SCHEMA)
    got = collections.Counter(map(tuple, state_at(log, snaps, upto).collect()))
    want = collections.Counter(map(tuple, replay_state(log, upto_offset=upto).collect()))
    assert got == want
    log.unpersist()


def test_pos_to_players_lww_collision():
    # posToPlayers (game.go:62; writes event.go:47,80): two players on
    # one cell — last writer wins.
    s = fold_events([
        ev("UserJoinEvent", name="a", x=2, y=2, lst=[]),
        ev("UserJoinEvent", name="b", x=2, y=2, lst=[]),
    ])
    assert s.pos_players[(2, 2)].name == "b"
    assert s.players["a"].pos == (2, 2)  # nameToPlayers keeps both


def test_pos_to_players_stale_cells_persist():
    # reference never clears the old cell on a move: the vacated cell
    # keeps its stale snapshot (event.go:31-48 writes only the target)
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("UserMoveEvent", name="a", x=1, y=2),
    ])
    assert s.pos_players[(1, 1)].name == "a"  # stale
    assert s.pos_players[(1, 2)].name == "a"
    assert s.players["a"].pos == (1, 2)


def test_pos_to_players_aliasing_sees_death():
    # the cell holds the SAME object as nameToPlayers at write time
    # (Go pointer aliasing): a later death through nameToPlayers is
    # visible through the cell written by that same playerInfo...
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("UserDeadEvent", name="a", comment="k"),
    ])
    assert s.pos_players[(1, 1)].alive is False
    # ...but a STALE cell (written before the player's latest move)
    # keeps its own snapshot's alive value, exactly like the Go maps.
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("UserMoveEvent", name="a", x=1, y=2),
        ev("UserDeadEvent", name="a", comment="k"),
    ])
    assert s.pos_players[(1, 1)].alive is True  # stale snapshot
    assert s.pos_players[(1, 2)].alive is False  # aliased latest


def test_pos_to_players_revive_does_not_write_cell():
    # UserReviveEvent updates nameToPlayers only (event.go:64-67)
    s = fold_events([
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[]),
        ev("UserDeadEvent", name="a", comment="k"),
        ev("UserReviveEvent", name="a", x=5, y=5),
    ])
    assert (5, 5) not in s.pos_players
    assert s.players["a"].pos == (5, 5) and s.players["a"].alive


def test_replay_state_grouped_matches_shuffled(spark):
    """The shuffle-free fold (topic-per-room layout precondition) must
    produce byte-identical state to the groupBy(room) fold."""
    from play_with_pulsar_spark.operators.replay import (
        replay_state,
        replay_state_grouped,
    )
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=6, events_per_room=400, seed=11)
    key = ["room", "entity", "name", "x", "y"]
    a = replay_state_grouped(log).orderBy(*key).collect()
    b = replay_state(log).orderBy(*key).collect()
    assert a == b
    assert len(a) > 0


def test_replay_state_grouped_plan_has_no_exchange(spark):
    """Zero exchanges: generation partitions one room per task, so the
    grouped fold must not re-shuffle (the point of the operator)."""
    from play_with_pulsar_spark.operators.replay import replay_state_grouped
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=4, events_per_room=50, seed=11)
    plan = replay_state_grouped(log)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_fold_pdf_matches_fold_events():
    """Columnar iteration (fold_pdf) is the same fold as the dict-based
    fold_events — including list-column (obstacle) events."""
    import pandas as pd

    from play_with_pulsar_spark.operators.replay import fold_events, fold_pdf
    from play_with_pulsar_spark.sources.fixtures import generate_room_events

    evs = generate_room_events("room-x", 1500, seed=3)
    expected = fold_events(evs)
    got = fold_pdf(pd.DataFrame(evs))
    assert got == expected


def test_fold_pdf_folds_a_null_coordinate_like_fold_events():
    """x/y are nullable: one null makes pandas hold the column as
    float64, which must not turn a bomb position into floats (the
    explode's ray lookup indexes by position)."""
    import pandas as pd

    from play_with_pulsar_spark.operators.replay import fold_pdf

    evs = [
        ev("UserJoinEvent", name="a", x=1, y=1, lst=[-encode_xy(4, 4)]),
        ev("SetBombEvent", name="a-b1", x=3, y=4),
        ev("UserDeadEvent", name="a", x=None, y=None),
        ev("ExplodeEvent", name="a-b1"),
    ]
    frame = pd.DataFrame(evs)
    assert frame["x"].dtype == "float64"
    got = fold_pdf(frame)
    assert got == fold_events(evs)
    assert (4, 4) not in got.obstacles  # the flame destroyed it
    assert all(type(v) is int for pos in got.flames for v in pos)


def test_null_coordinates_fold_as_zero_in_both_folds():
    """x/y are nullable in the schema and ``parse_envelope`` yields
    null for a missing key. Both folds read a null coordinate as Go's
    zero value, 0, for a move, and for a bomb that is set or moved and
    then explodes."""
    import pandas as pd

    from play_with_pulsar_spark.operators.replay import fold_pdf

    evs = [
        ev("UserJoinEvent", name="a", x=3, y=3, lst=[-encode_xy(2, 3)]),
        ev("UserMoveEvent", name="a", x=None, y=2),
        ev("SetBombEvent", name="a-b1", x=None, y=None),
        ev("ExplodeEvent", name="a-b1"),
        ev("SetBombEvent", name="a-b2", x=5, y=5),
        ev("BombMoveEvent", name="a-b2", x=2, y=None),
        ev("UndoExplodeEvent", x=None, y=None),
        ev("ExplodeEvent", name="a-b2"),
    ]
    want = fold_events([{**e, "x": e["x"] or 0, "y": e["y"] or 0} for e in evs])
    assert want.players["a"].pos == (0, 2)
    assert set(want.exploding) == {(2, 0)}
    assert (2, 3) not in want.obstacles  # only the moved bomb reaches it
    assert fold_events(evs) == want
    assert fold_pdf(pd.DataFrame(evs)) == want
    missing = [{k: v for k, v in e.items() if v is not None or k not in ("x", "y")}
               for e in evs]
    assert fold_events(missing) == want
    assert fold_pdf(pd.DataFrame(evs).drop(columns=["x", "y"])) == fold_events(
        [{**e, "x": 0, "y": 0} for e in evs])


def test_every_event_type_dispatches_identically_in_both_chains():
    """apply() (dict chain) and fold_pdf (positional chain) are
    hand-duplicated branch lists — this pins that EVERY event type
    reaches the same transition with the same defaults through both,
    independent of what any generator happens to emit. A type added to
    one chain but not the other, or a drifted default, fails here on a
    one-event fold."""
    import pandas as pd

    from play_with_pulsar_spark.operators.replay import fold_events, fold_pdf

    base = [
        dict(offset=0, room="r", ts=None, type="UserJoinEvent", name="a",
             avatar="f", comment="", x=3, y=4, alive=True, list=[-100, 200]),
        dict(offset=1, room="r", ts=None, type="SetBombEvent", name="a-b1",
             avatar=None, comment="", x=3, y=4, alive=True, list=None),
    ]
    per_type = [
        dict(type="UserMoveEvent", name="a", x=4, y=4, alive=True),
        dict(type="UserMoveEvent", name="ghost", x=5, y=5, alive=None),
        dict(type="UserDeadEvent", name="a", x=0, y=0),
        dict(type="UserReviveEvent", name="a", x=6, y=6),
        dict(type="UserJoinEvent", name="b", x=1, y=1, alive=False,
             list=[50, -60]),
        dict(type="SetBombEvent", name="b-b2", x=1, y=1),
        dict(type="BombMoveEvent", name="a-b1", x=2, y=4),
        dict(type="ExplodeEvent", name="a-b1", x=0, y=0),
        dict(type="UndoExplodeEvent", name=None, x=2, y=4),
        dict(type="UpdateMapEvent", name=None, x=0, y=0, list=[7, -8]),
        dict(type="NotARealEvent", name="a", x=1, y=1),  # both must skip
    ]
    for extra in per_type:
        ev = dict(offset=2, room="r", ts=None, avatar="g", comment="",
                  x=0, y=0, alive=True, list=None)
        ev.update(extra)
        seq = base + [ev]
        assert fold_pdf(pd.DataFrame(seq)) == fold_events(seq), ev["type"]


def test_grouped_fold_layout_verification(spark):
    """assert_rooms_not_split accepts the generator's topic-per-room
    layout and rejects a layout where rooms straddle partitions."""
    import pytest as _pytest

    from play_with_pulsar_spark.operators.replay import assert_rooms_not_split
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=4, events_per_room=100, seed=5)
    assert_rooms_not_split(log)  # generator layout: one room per task

    shuffled = log.repartition(8)  # round-robin: rooms split
    with _pytest.raises(ValueError, match="split across partitions"):
        assert_rooms_not_split(shuffled)


def test_fold_goldens_in_sync_with_generator():
    # round-6 driver hash gate: the committed golden parquets
    # (scripts/gen_fold_golden.py — pure-python fold, no Spark) must
    # match a fresh recomputation, so fixture drift fails CI before it
    # reaches the driver's oracle comparison.
    import os
    import sys

    import pyarrow.parquet as pq

    sys_path_root = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, os.path.join(sys_path_root, "scripts"))
    import gen_fold_golden as G

    fixdir = os.path.join(sys_path_root, "fixtures")
    for fname, rows in [
        ("fold_players_golden.parquet", G.players_rows(None)),
        ("fold_players_upto1500_golden.parquet", G.players_rows(1500)),
        ("fold_pos_players_golden.parquet", G.pos_players_rows()),
        ("fold_state_summary_golden.parquet", G.state_summary_rows()),
        ("fold_scale_replay_golden.parquet", G.scale_summary_rows(32, 3000, seed=7)),
        ("fold_scale_replay_xl_golden.parquet", G.scale_summary_rows(32, 12000, seed=7)),
    ]:
        committed = pq.read_table(os.path.join(fixdir, fname)).to_pylist()
        assert committed == rows, f"{fname} drifted from generator output"


def _stream_snapshots(spark, log, files, every_k, base):
    """Write each ``(lo, hi)`` offset range of ``log`` as one parquet
    file under ``base/src`` (files already there are kept), then drain
    the source through ``streaming_snapshots`` into the parquet file
    sink ``base/snaps``, checkpointed at ``base/ckpt``, one file per
    micro-batch. Returns the ids of the batches the run executed."""
    import os

    from pyspark.sql import functions as F

    from play_with_pulsar_spark.streaming.pipeline import streaming_snapshots

    src = os.path.join(base, "src")
    done = len(os.listdir(src)) if os.path.isdir(src) else 0
    for k, (lo, hi) in enumerate(files, start=done):
        log.filter(F.col("offset").between(lo, hi)).coalesce(1).write.parquet(
            os.path.join(src, f"f{k:03d}")
        )
    stream = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = (
        streaming_snapshots(stream, every_k=every_k)
        .writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start(os.path.join(base, "snaps"))
    )
    q.awaitTermination(300)
    return [p["batchId"] for p in q.recentProgress]


def _decoded_snapshots(rows):
    """``{(room, snap_offset): GameState}`` over the rows with
    ``snap_offset >= 0``, failing on a duplicate key. States are
    compared decoded: a fold resumed from a decoded state can encode
    the same state to other bytes than an unbroken fold."""
    from play_with_pulsar_spark.operators.replay import decode_state

    out = {}
    for r in rows:
        if r.snap_offset >= 0:
            key = (r.room, r.snap_offset)
            assert key not in out, f"duplicate snapshot row {key}"
            out[key] = decode_state(r.blob)
    return out


@pytest.mark.parametrize(
    "files",
    [
        [(0, 1199)],
        [(0, 499), (500, 999), (1000, 1199)],
        [(lo, lo + 99) for lo in range(0, 1200, 100)],
    ],
    ids=["one_trigger", "three_mid_interval_files", "file_every_100"],
)
def test_streaming_snapshots_equal_snapshot_states(spark, tmp_path, files):
    """The stream-maintained snapshot table equals the one-shot
    snapshot_states build at every (room, snap_offset), whatever the
    micro-batch split (batches ending mid-interval need the state
    store's carried state), and time travel through it equals the
    full replay from the nearest snapshot within every_k."""
    import os

    from pyspark.sql import functions as F

    from play_with_pulsar_spark.operators.replay import (
        players_state,
        replay_state,
        snapshot_states,
        state_at,
    )
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=2, events_per_room=1200, seed=42).cache()
    batches = _stream_snapshots(spark, log, files, 400, str(tmp_path))
    assert len(batches) == len(files)
    sink = spark.read.parquet(os.path.join(str(tmp_path), "snaps"))
    got = _decoded_snapshots(sink.collect())
    want = _decoded_snapshots(snapshot_states(log, every_k=400).collect())
    assert len(got) == 6  # 3 per room
    assert got == want

    def states(df):
        return {(r.room, r.name): (r.x, r.y, r.alive)
                for r in players_state(df).collect()}

    for upto in (350, 799, 1199):
        assert states(state_at(log, sink, upto)) == states(
            replay_state(log, upto_offset=upto)
        ), upto
        # O(tail) really holds: the chosen snapshot is within every_k
        best = (
            sink.filter(F.col("snap_offset") <= upto)
            .groupBy("room").agg(F.max("snap_offset").alias("s")).collect()
        )
        for r in best:
            assert upto - r.s < 400, (upto, r.s)
    log.unpersist()


def test_streaming_snapshots_exactly_once_across_restart(spark, tmp_path):
    """The snapshot stream is exactly-once across a stop, a restart
    from its checkpoint and a re-executed batch: after each step the
    file sink holds no duplicate (room, snap_offset), and its states
    equal snapshot_states' over the log delivered so far."""
    import os

    from pyspark.sql import functions as F

    from play_with_pulsar_spark.operators.replay import snapshot_states
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=2, events_per_room=1200, seed=42).cache()
    base = str(tmp_path)

    def check(upto, n_snaps):
        got = _decoded_snapshots(spark.read.parquet(os.path.join(base, "snaps")).collect())
        want = _decoded_snapshots(
            snapshot_states(log.filter(F.col("offset") <= upto), every_k=400).collect()
        )
        assert len(got) == n_snaps
        assert got == want

    # the first file, then the query stops
    assert _stream_snapshots(spark, log, [(0, 499)], 400, base) == [0]
    check(499, 2)
    # restart from the checkpoint with the next files
    assert _stream_snapshots(spark, log, [(500, 999), (1000, 1099)], 400, base) == [1, 2]
    check(1099, 4)
    # lose the last batch's commit: the restart re-executes batch 2,
    # and the sink's metadata log keeps its rows from landing twice
    os.remove(os.path.join(base, "ckpt", "commits", "2"))
    assert _stream_snapshots(spark, log, [], 400, base) == [2]
    check(1099, 4)
    # the state the re-executed batch left folds on correctly
    assert _stream_snapshots(spark, log, [(1100, 1199)], 400, base) == [3]
    check(1199, 6)
    log.unpersist()
