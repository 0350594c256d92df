"""Property-based fold tests (SURVEY §5.2.3) — hypothesis generates
adversarial event sequences; the fold must uphold its invariants on
ALL of them, not just the generator's plausible logs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from play_with_pulsar_spark.operators.replay import (
    GameState,
    fold_events,
    valid_coordinate,
)

NAMES = ["a", "b", "c"]
BOMBS = ["a-b1111", "b-b2222", "random-z9999"]


def _ev(type_, name, x, y, comment="", lst=None, alive=True):
    return dict(offset=0, room="r", ts=None, type=type_, name=name, avatar="f",
                comment=comment, x=x, y=y, alive=alive, list=lst)


event_strategy = st.one_of(
    st.builds(lambda n, x, y: _ev("UserMoveEvent", n, x, y),
              st.sampled_from(NAMES), st.integers(-2, 31), st.integers(-2, 26)),
    st.builds(lambda n, x, y, lst: _ev("UserJoinEvent", n, x, y, lst=lst),
              st.sampled_from(NAMES), st.integers(0, 29), st.integers(0, 24),
              st.lists(st.integers(-749, 749), max_size=30)),
    st.builds(lambda n, k: _ev("UserDeadEvent", n, 0, 0, comment=k),
              st.sampled_from(NAMES), st.sampled_from(NAMES)),
    # coordinate-less: nulls in the nullable x/y columns
    st.builds(lambda n, k: _ev("UserDeadEvent", n, None, None, comment=k),
              st.sampled_from(NAMES), st.sampled_from(NAMES)),
    st.builds(lambda n, x, y: _ev("UserReviveEvent", n, x, y),
              st.sampled_from(NAMES), st.integers(0, 29), st.integers(0, 24)),
    st.builds(lambda b, x, y: _ev("SetBombEvent", b, x, y),
              st.sampled_from(BOMBS), st.integers(0, 29), st.integers(0, 24)),
    st.builds(lambda b, x, y: _ev("BombMoveEvent", b, x, y),
              st.sampled_from(BOMBS), st.integers(-3, 32), st.integers(-3, 27)),
    st.builds(lambda b: _ev("ExplodeEvent", b, 0, 0), st.sampled_from(BOMBS)),
    st.builds(lambda x, y: _ev("UndoExplodeEvent", None, x, y),
              st.integers(0, 29), st.integers(0, 24)),
    st.builds(lambda lst: _ev("UpdateMapEvent", None, 0, 0, lst=lst),
              st.lists(st.integers(-749, 749), max_size=40)),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(event_strategy, max_size=120))
def test_fold_never_crashes_and_invariants_hold(events):
    s = fold_events(events)
    # players always inside the grid (guards P5): only valid moves land
    for p in s.players.values():
        assert valid_coordinate(*p.pos)
    # pos_bombs entries always point at an existing bomb at that pos
    # OR a bomb name overwritten by a duplicate — but never a name
    # absent from nameToBombs unless its bomb exploded (reference
    # removeBomb clears both); weaker faithful invariant: every flame
    # map value is an exploding bomb
    for bomb in s.flames.values():
        assert bomb.bomb_name in {b.bomb_name for b in s.exploding.values()}
    # obstacle codes decode inside the grid
    for (x, y) in s.obstacles:
        assert 0 <= x < 30 and 0 <= y < 25


@settings(max_examples=100, deadline=None)
@given(st.lists(event_strategy, max_size=100), st.integers(1, 99))
def test_fold_prefix_composition(events, cut):
    # fold(all) == fold(suffix, fold(prefix)) at ANY cut point — the
    # micro-batch-boundary independence property, adversarially
    cut = min(cut, len(events))
    whole = fold_events(events)
    split = fold_events(events[cut:], fold_events(events[:cut]))
    assert whole == split


@settings(max_examples=100, deadline=None)
@given(st.lists(event_strategy, max_size=80))
def test_fold_is_deterministic(events):
    assert fold_events(events) == fold_events(list(events))


def _positions(s: GameState):
    """Every coordinate pair the state holds, as keys or as values."""
    for m in (s.pos_players, s.pos_bombs, s.exploding, s.obstacles, s.flames):
        yield from m
    yield from (p.pos for p in s.players.values())
    yield from (b.pos for m in (s.bombs, s.exploding, s.flames) for b in m.values())


@settings(max_examples=150, deadline=None)
@given(st.lists(event_strategy, max_size=120))
def test_fold_pdf_equals_fold_events_on_adversarial_sequences(events):
    """The columnar kernel (fold_pdf) is the SAME fold as the
    dict-based reference on arbitrary event sequences — including
    hostile dead/revive interleavings, out-of-grid moves, duplicate
    bombs, null coordinates, and empty/None obstacle lists the
    generator never emits. It gets two frames: one built from the
    dicts, and one built the way a Python worker receives it from
    Arrow (a numpy array per obstacle list, float64 for a coordinate
    column holding a null). Both must fold to state holding Python
    ints only."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from play_with_pulsar_spark.operators.replay import fold_pdf
    from play_with_pulsar_spark.schema import GAME_EVENT_SCHEMA

    expected = fold_events(events)
    if events:
        from_dicts = pd.DataFrame(events)
    else:
        from_dicts = pd.DataFrame(columns=["type", "name", "avatar",
                                           "x", "y", "alive", "list"])
    from_arrow = pa.Table.from_pylist(
        events, schema=to_arrow_schema(GAME_EVENT_SCHEMA)
    ).to_pandas()
    for frame in (from_dicts, from_arrow):
        got = fold_pdf(frame)
        assert got == expected
        assert all(type(v) is int for pos in _positions(got) for v in pos)


@settings(max_examples=100, deadline=None)
@given(st.lists(event_strategy, max_size=100), st.integers(1, 40))
def test_fold_room_snapshots_and_resume_equal_fold_events(events, every_k):
    """The contract of fold_room, the per-room fold every entry point
    runs. Given offsets 0..n-1 in reverse order, it folds them in
    offset order; each snapshot decodes to the fold of the prefix up to
    its offset; and resuming from any snapshot past its offset folds
    to the same state as the whole sequence."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from play_with_pulsar_spark.operators.replay import decode_state, fold_room
    from play_with_pulsar_spark.schema import GAME_EVENT_SCHEMA

    events = [dict(ev, offset=o) for o, ev in enumerate(events)]
    frame = pa.Table.from_pylist(
        events[::-1], schema=to_arrow_schema(GAME_EVENT_SCHEMA)
    ).to_pandas()
    whole = fold_events(events)

    state, snaps = fold_room(frame, every_k=every_k)
    assert state == whole
    assert [o for o, _ in snaps] == [o for o in range(len(events)) if (o + 1) % every_k == 0]
    for o, blob in snaps:
        assert decode_state(blob) == fold_events(events[: o + 1])
        resumed, _ = fold_room(frame, decode_state(blob), after=o)
        assert resumed == whole
    assert fold_room(frame) == (whole, [])
