"""The deterministic replay fold — state = fold(handle, init, events).

This is the reference's central computation (SURVEY §2.4): an ordered
event log folded into materialized state ("same initial state + same
event sequence ⇒ same result", docs/en/game1-introduce.md:91-97). The
transition semantics reproduce game-code/event.go:31-225 exactly,
including the guard predicates (event.go:33-45), duplicate-bomb
no-ops (event.go:118-132), destructible-obstacle destruction during
flame ray-cast (event.go:141-150), and full flame-map recomputation on
explode/undo (event.go:152-163,184-194; geometry utils.go:132-175).

Determinism note: Go map iteration order is unspecified, so the
reference's flame recomputation is nondeterministic when two exploding
bombs' flames overlap; this engine iterates exploding bombs sorted by
position, making the fold a pure function of the event sequence.

Execution model (the scale story): the fold is inherently sequential
*within a room* but rooms are independent (topic-per-room isolation,
docs/en/game2-use-mq.md:13-15). So the operator is
``groupBy(room).applyInPandas(fold)``: one shuffle on room, then a
pure per-group computation whose state is tiny and bounded (≤750
cells, a handful of players — game.go:25-37). 100 TB of events =
millions of rooms sharding across executors; no state ever crosses a
group boundary. Python-side work is Arrow-batched; within-group
ordering is by explicit ``offset`` (the broker order made a column).
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schema import BOMB_LENGTH, GRID_H, GRID_W

DESTRUCTIBLE = 1
INDESTRUCTIBLE = 2

# One tagged table holds all five state maps (players/pos_players/
# bombs/obstacles/flames) so a replay is ONE fold and one shuffle.
STATE_SCHEMA = StructType(
    [
        StructField("room", StringType(), False),
        StructField("entity", StringType(), False),  # player|pos_player|bomb|obstacle|flame
        StructField("name", StringType(), True),  # player or bomb name
        StructField("owner", StringType(), True),  # bomb/flame owning player
        StructField("x", IntegerType(), True),
        StructField("y", IntegerType(), True),
        StructField("alive", BooleanType(), True),  # players only
        StructField("destructible", BooleanType(), True),  # obstacles only
    ]
)
STATE_COLS = [f.name for f in STATE_SCHEMA.fields]


def valid_coordinate(x: int, y: int) -> bool:
    """Bounds guard P5 (utils.go:61-63)."""
    return 0 <= x < GRID_W and 0 <= y < GRID_H


def decode_xy(code: int) -> tuple[int, int]:
    """X1 inverse (utils.go:91-93): code = y*W + x."""
    return code % GRID_W, code // GRID_W


def encode_xy(x: int, y: int) -> int:
    return y * GRID_W + x


def _clip_ray(cells) -> tuple:
    """Truncate a ray at its FIRST out-of-bounds cell — identical to
    the per-cell ``valid_coordinate`` break in utils.go:132-175 (a ray
    never skips an invalid cell and resumes)."""
    out = []
    for p in cells:
        if not valid_coordinate(*p):
            break
        out.append(p)
    return tuple(out)


def _rays_at(x0: int, y0: int) -> tuple:
    """The four border-clipped rays of utils.go:132-175 from (x0, y0):
    left (excl. origin), right (incl.), up (excl.), down (incl.)."""
    return (
        _clip_ray((i, y0) for i in range(x0 - 1, x0 - BOMB_LENGTH - 1, -1)),
        _clip_ray((i, y0) for i in range(x0, x0 + BOMB_LENGTH + 1)),
        _clip_ray((x0, j) for j in range(y0 - 1, y0 - BOMB_LENGTH - 1, -1)),
        _clip_ray((x0, j) for j in range(y0, y0 + BOMB_LENGTH + 1)),
    )


# Precomputed border-clipped ray templates for every in-grid cell —
# the flame recompute runs once per explode/undo event, so the
# geometry (4 list builds + ~22 valid_coordinate calls per bomb per
# recompute) was ~half the fold kernel's CPU. 750 cells × ≤22 cells
# of tuples, built once per worker at import.
_RAYS = [_rays_at(code % GRID_W, code // GRID_W) for code in range(GRID_W * GRID_H)]


def _rays_for(pos: tuple[int, int]) -> tuple:
    """Rays for a bomb position. Out-of-grid positions are legal state
    (set_bomb/bomb_move don't bounds-check — event.go:85-109,197-217)
    and CAN cast into the grid (a bomb at x=GRID_W's leftward ray
    starts at GRID_W-1), so they fall back to on-the-fly clipping."""
    x, y = pos
    if 0 <= x < GRID_W and 0 <= y < GRID_H:
        return _RAYS[y * GRID_W + x]
    return _rays_at(x, y)




@dataclass
class Bomb:
    bomb_name: str
    owner: str  # Split(bombName,"-")[0] — game.go:244 (X6)
    pos: tuple[int, int]


@dataclass
class Player:
    name: str
    avatar: str | None
    pos: tuple[int, int]
    alive: bool


@dataclass
class GameState:
    """The five keyed state maps of game-code/game.go:55-90."""

    players: dict[str, Player] = field(default_factory=dict)  # nameToPlayers
    # posToPlayers (game.go:62): position-keyed LWW map written ONLY by
    # move/join (event.go:47,80) — reference semantics: the cell holds
    # the SAME object stored in nameToPlayers at write time (pointer
    # aliasing), stale cells are never cleared when a player moves
    # away, and revive/dead never write it. Two players on one cell =
    # last writer wins.
    pos_players: dict[tuple[int, int], Player] = field(default_factory=dict)
    bombs: dict[str, Bomb] = field(default_factory=dict)  # nameToBombs
    pos_bombs: dict[tuple[int, int], str] = field(default_factory=dict)  # posToBombs
    exploding: dict[tuple[int, int], Bomb] = field(default_factory=dict)
    obstacles: dict[tuple[int, int], int] = field(default_factory=dict)
    flames: dict[tuple[int, int], Bomb] = field(default_factory=dict)

    # --- transitions (event.go:31-225) ---

    def _obstacles_from_list(self, codes) -> None:
        """X3 genObstacleMapFromList (event.go:227-251): sign encodes
        destructibility (negative = destructible, X2)."""
        if codes is None:
            codes = ()
        m: dict[tuple[int, int], int] = {}
        for code in codes:
            if code < 0:
                code = -code
                m[(code % GRID_W, code // GRID_W)] = DESTRUCTIBLE
            else:
                m[(code % GRID_W, code // GRID_W)] = INDESTRUCTIBLE
        self.obstacles = m

    def _remove_bomb(self, bomb_name: str) -> None:
        """game.go:252-259 — also clears the position slot even when a
        later duplicate bomb overwrote it."""
        bomb = self.bombs.pop(bomb_name, None)
        if bomb is not None:
            self.pos_bombs.pop(bomb.pos, None)

    def _recompute_flames(self) -> None:
        """event.go:152-163,184-194: rebuilt from scratch from every
        exploding bomb; only indestructible obstacles block flame.
        Sorted iteration replaces Go's random map order (see module
        docstring). Direct loops over the precomputed clipped rays —
        the per-cell-callback form cost ~2× in pure dispatch."""
        new: dict[tuple[int, int], Bomb] = {}
        get = self.obstacles.get
        for pos, bomb in sorted(self.exploding.items()):
            for ray in _rays_for(pos):
                for p in ray:
                    if get(p) == INDESTRUCTIBLE:
                        break
                    new[p] = bomb
        self.flames = new

    def user_move(self, name, x, y, avatar=None, alive=True) -> None:
        """F1 (event.go:31-48) with guards P5 (bounds), P6 (obstacle),
        P7 (dead players can't move)."""
        if not (0 <= x < GRID_W and 0 <= y < GRID_H):
            return
        pos = (x, y)
        if pos in self.obstacles:
            return
        p = self.players.get(name)
        if p is not None and not p.alive:
            return
        moved = Player(name, avatar, pos, bool(alive))
        self.players[name] = moved
        self.pos_players[pos] = moved  # event.go:47 — same object, LWW

    def user_dead(self, name) -> None:
        """F2 (event.go:50-59): flip alive only if the player exists."""
        p = self.players.get(name)
        if p is not None:
            p.alive = False

    def user_revive(self, name, x, y, avatar=None) -> None:
        """F3 (event.go:61-68)."""
        self.players[name] = Player(name, avatar, (x, y), True)

    def user_join(self, name, x, y, avatar=None, alive=True, obstacle_list=None) -> None:
        """F4 (event.go:72-83): upsert player AND replace the whole
        obstacle map."""
        pos = (x, y)
        joined = Player(name, avatar, pos, bool(alive))
        self.players[name] = joined
        self.pos_players[pos] = joined  # event.go:80
        self._obstacles_from_list(obstacle_list)

    def set_bomb(self, name, x, y) -> None:
        """F5 (event.go:85-109): guarded insert; duplicate at an
        occupied position overwrites the position slot (setBombWithTrigger,
        game.go:239-250). Timer emission is not folded — the resulting
        ExplodeEvent is already in the log (T1, SURVEY §2.6)."""
        pos = (x, y)
        if pos in self.obstacles:
            return
        bomb = Bomb(name, name.split("-")[0], pos)
        self.bombs[name] = bomb
        self.pos_bombs[pos] = name

    def explode(self, name) -> None:
        """F6 (event.go:111-163): no-op when the bomb is gone or its
        position slot was cleared (duplicate-bomb tolerance T5); else
        remove bomb, mark exploding, destroy destructible obstacles
        along the rays (indestructible blocks), recompute flames."""
        bomb = self.bombs.get(name)
        if bomb is None:
            return
        if bomb.pos not in self.pos_bombs:
            return
        self._remove_bomb(bomb.bomb_name)
        self.exploding[bomb.pos] = bomb

        obstacles = self.obstacles
        for ray in _rays_for(bomb.pos):
            for p in ray:
                t = obstacles.get(p)
                if t == INDESTRUCTIBLE:
                    break
                if t == DESTRUCTIBLE:
                    del obstacles[p]
        self._recompute_flames()

    def undo_explode(self, x, y) -> None:
        """F7 (event.go:178-195): keyed by POSITION, then recompute."""
        self.exploding.pop((x, y), None)
        self._recompute_flames()

    def bomb_move(self, name, x, y) -> None:
        """F8 (event.go:197-217): keyed move; no bounds check on the
        target (faithful to the reference)."""
        bomb = self.bombs.get(name)
        if bomb is None:
            return
        if bomb.pos not in self.pos_bombs:
            return
        del self.pos_bombs[bomb.pos]
        bomb.pos = (x, y)
        self.pos_bombs[bomb.pos] = bomb.bomb_name

    def update_map(self, obstacle_list) -> None:
        """F9 (event.go:219-225): replace the whole obstacle map."""
        self._obstacles_from_list(obstacle_list)

    def apply(self, ev: dict) -> None:
        """Dict-event dispatch (the wire/dict API; the columnar kernel
        ``fold_pdf`` calls the transitions positionally). Branch order
        follows observed event frequency. Missing-key defaults match
        event.go's zero-value semantics: a missing or null ``x``/``y``
        folds as 0, as in ``fold_pdf``; ``alive`` defaults True when
        ABSENT (an explicit None folds falsy, same as the historical
        ``bool(ev.get('alive', True))``)."""
        t = ev["type"]
        x = ev.get("x") or 0
        y = ev.get("y") or 0
        if t == "UserMoveEvent":
            self.user_move(ev["name"], x, y, ev.get("avatar"), ev.get("alive", True))
        elif t == "BombMoveEvent":
            self.bomb_move(ev["name"], x, y)
        elif t == "SetBombEvent":
            self.set_bomb(ev["name"], x, y)
        elif t == "ExplodeEvent":
            self.explode(ev["name"])
        elif t == "UndoExplodeEvent":
            self.undo_explode(x, y)
        elif t == "UserDeadEvent":
            self.user_dead(ev["name"])
        elif t == "UserReviveEvent":
            self.user_revive(ev["name"], x, y, ev.get("avatar"))
        elif t == "UserJoinEvent":
            self.user_join(ev["name"], x, y, ev.get("avatar"),
                           ev.get("alive", True), ev.get("list"))
        elif t == "UpdateMapEvent":
            self.update_map(ev.get("list"))

    def to_rows(self, room: str) -> list[dict]:
        rows = []
        for p in self.players.values():
            rows.append(
                dict(room=room, entity="player", name=p.name, owner=None,
                     x=p.pos[0], y=p.pos[1], alive=p.alive, destructible=None)
            )
        for (x, y), p in self.pos_players.items():
            rows.append(
                dict(room=room, entity="pos_player", name=p.name, owner=None,
                     x=x, y=y, alive=p.alive, destructible=None)
            )
        for b in self.bombs.values():
            rows.append(
                dict(room=room, entity="bomb", name=b.bomb_name, owner=b.owner,
                     x=b.pos[0], y=b.pos[1], alive=None, destructible=None)
            )
        for (x, y), t in self.obstacles.items():
            rows.append(
                dict(room=room, entity="obstacle", name=None, owner=None,
                     x=x, y=y, alive=None, destructible=t == DESTRUCTIBLE)
            )
        for (x, y), b in self.flames.items():
            rows.append(
                dict(room=room, entity="flame", name=b.bomb_name, owner=b.owner,
                     x=x, y=y, alive=None, destructible=None)
            )
        return rows


def fold_events(events, state: GameState | None = None) -> GameState:
    """Fold an in-order iterable of event dicts into state — the
    single authoritative transition implementation, shared by the
    batch operator, the streaming operator, and the tests."""
    state = state or GameState()
    for ev in events:
        state.apply(ev)
    return state


# Columns the transitions read. ``fold_pdf`` hands the transitions
# plain Python values whatever dtypes the frame holds: ints for
# coordinates (0 for a null, Go's zero value, as in
# ``GameState.apply``) and obstacle codes, None for a null list. State
# built from a worker's Arrow-converted frame then equals state built
# from dicts, pickles as Python ints, and indexes the ray templates.
_EVENT_COLS = ("type", "name", "avatar", "x", "y", "alive", "list")
# A frame LACKING a column folds as if every event omitted that key:
# coordinates as 0, and ``alive`` as True, not None (None folds players
# as dead), the dict fold's event.go:31-43 zero-value semantics.
_MISSING_COL_VALUE = {"x": 0, "y": 0, "alive": True}


def _plain_coords(col: pd.Series) -> list:
    """A coordinate column as Python ints, 0 where null. One null
    makes pandas hold the column as float64 with NaN."""
    if col.dtype.kind in "iu":
        return col.tolist()
    return [0 if null else int(v) for v, null in zip(col.tolist(), col.isna().tolist())]


def _plain_codes(cell):
    """An obstacle-list cell as a Python list of ints, or None. Arrow
    hands the worker a numpy array per cell, and pandas fills a cell
    missing from a frame built from dicts with NaN."""
    if isinstance(cell, np.ndarray):
        return cell.tolist()
    if isinstance(cell, float):
        return None
    return cell


def fold_pdf(pdf: pd.DataFrame, state: GameState | None = None) -> GameState:
    """Fold a SORTED single-room pandas frame into state via the
    authoritative transitions, converting only the columns the
    transitions read, to plain Python values."""
    state = state or GameState()
    n = len(pdf)
    cols = [
        (_plain_coords(pdf[c]) if c in ("x", "y") else pdf[c].tolist())
        if c in pdf.columns
        else [_MISSING_COL_VALUE.get(c)] * n
        for c in _EVENT_COLS
    ]
    types, names, avatars, xs, ys, alives, lists = cols
    # positional dispatch (no per-event dict build, no dispatch-table
    # lookup): the branch chain is ordered by observed frequency —
    # measured 9.2 → ~5 ms per 3000-event room together with the
    # precomputed ray templates
    user_move = state.user_move
    bomb_move = state.bomb_move
    set_bomb = state.set_bomb
    explode = state.explode
    undo_explode = state.undo_explode
    user_dead = state.user_dead
    user_revive = state.user_revive
    user_join = state.user_join
    update_map = state.update_map
    for i in range(n):
        t = types[i]
        if t == "UserMoveEvent":
            user_move(names[i], xs[i], ys[i], avatars[i], alives[i])
        elif t == "BombMoveEvent":
            bomb_move(names[i], xs[i], ys[i])
        elif t == "SetBombEvent":
            set_bomb(names[i], xs[i], ys[i])
        elif t == "ExplodeEvent":
            explode(names[i])
        elif t == "UndoExplodeEvent":
            undo_explode(xs[i], ys[i])
        elif t == "UserDeadEvent":
            user_dead(names[i])
        elif t == "UserReviveEvent":
            user_revive(names[i], xs[i], ys[i], avatars[i])
        elif t == "UserJoinEvent":
            user_join(names[i], xs[i], ys[i], avatars[i], alives[i], _plain_codes(lists[i]))
        elif t == "UpdateMapEvent":
            update_map(_plain_codes(lists[i]))
    return state


def encode_state(state: GameState) -> bytes:
    """A state as a blob: the snapshot tables and the streaming folds'
    state store hold these. This pair is the only code that knows the
    blob format (a pickle)."""
    return pickle.dumps(state)


def decode_state(blob: bytes) -> GameState:
    """Inverse of :func:`encode_state`."""
    return pickle.loads(blob)


def fold_room(
    pdf: pd.DataFrame, state: GameState | None = None, after: int = -1, every_k: int = 0
) -> tuple[GameState, list[tuple[int, bytes]]]:
    """The one per-room fold every entry point runs: drop the events
    at ``offset <= after`` (already in ``state``), fold the rest in
    offset order through :func:`fold_pdf`, and, when ``every_k`` is
    set, encode the state at each offset ``o`` with
    ``(o + 1) % every_k == 0``. Returns the state and the
    ``(offset, blob)`` snapshots."""
    state = GameState() if state is None else state
    pdf = pdf.sort_values("offset", kind="mergesort")
    # sorted first, so dropping the resumed prefix is a slice, not a copy
    pdf = pdf.iloc[pdf["offset"].searchsorted(after, side="right") :]
    snaps = []
    if every_k:
        seg = 0
        for i, off in enumerate(pdf["offset"].tolist()):
            if (off + 1) % every_k == 0:
                fold_pdf(pdf.iloc[seg : i + 1], state)
                seg = i + 1
                snaps.append((off, encode_state(state)))
        pdf = pdf.iloc[seg:]
    fold_pdf(pdf, state)
    return state, snaps


def _fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
    state, _ = fold_room(pdf)
    return pd.DataFrame(state.to_rows(pdf["room"].iloc[0]), columns=STATE_COLS)


def _project_fold_columns(events: DataFrame) -> DataFrame:
    """Keep only the columns the fold reads (room, offset, and the
    transition inputs). The scan-side projection cuts what crosses the
    shuffle/Arrow boundary — the dead ``ts``/``comment`` columns and
    their timestamp→datetime64 conversion never reach the Python
    worker."""
    keep = ["room", "offset"] + [c for c in _EVENT_COLS if c in events.columns]
    return events.select(*keep)


# (measured: the pruning is ~10% off the pure fold wall at 3M events
# on local parquet — modest here because the dropped columns are 2 of
# 11; on a wide production envelope or across a real shuffle the
# saving scales with what was dropped)


def replay_state(events: DataFrame, upto_offset: int | None = None) -> DataFrame:
    """Time-travel query: materialized state as of ``upto_offset``
    (inclusive), per room (SURVEY §3.2 — watch.go:43-85's re-fold).

    Plan: offset filter (pushed to the scan) → column-pruned shuffle
    on room → per-room Arrow-batched fold. Returns the tagged state
    table (``STATE_SCHEMA``).
    """
    if upto_offset is not None:
        events = events.filter(F.col("offset") <= upto_offset)
    return (
        _project_fold_columns(events)
        .groupBy("room")
        .applyInPandas(_fold_group, schema=STATE_SCHEMA)
    )


def assert_rooms_not_split(events: DataFrame) -> None:
    """Validate the ``replay_state_grouped`` precondition: every room's
    events live in exactly ONE partition. One narrow pass (room +
    partition id, partial-aggregated); raises with the offending rooms
    if the layout is wrong. Run it when adopting a NEW source layout —
    a split room would otherwise fold partial logs silently."""
    split = (
        events.select("room", F.spark_partition_id().alias("pid"))
        .groupBy("room")
        .agg(F.countDistinct("pid").alias("n_parts"))
        .filter(F.col("n_parts") > 1)
    )
    bad = [r.room for r in split.limit(5).collect()]
    if bad:
        raise ValueError(
            "rooms split across partitions (topic-per-room precondition "
            f"violated), e.g. {bad}: use replay_state (shuffled) or "
            "repartition('room') first"
        )


def replay_state_grouped(events: DataFrame) -> DataFrame:
    """Shuffle-free fold for sources PHYSICALLY partitioned by room.

    The reference's log is topic-per-room (docs/en/game2-use-mq.md:
    13-15) — a scan of such a log already delivers every room's events
    wholly inside one partition, so the ``groupBy(room)`` exchange in
    ``replay_state`` would re-shuffle 100 TB only to recreate the
    partitioning the storage layout already has. This variant folds
    within each partition (grouping by room across Arrow batches,
    sorting each room by offset) via ``mapInPandas`` — zero exchanges.

    PRECONDITION: every room's events live in exactly one partition
    (topic-per-room scan, or an upstream ``repartition("room")``).
    Rooms split across partitions would each fold a partial log —
    use ``replay_state`` when the layout is unknown, and check a new
    source layout once with :func:`assert_rooms_not_split`. Memory: a
    partition's events are buffered (same bound as one applyInPandas
    group holding one room; here it is one task's share of the log,
    i.e. one topic partition — bounded by the source layout).
    """
    events = _project_fold_columns(events)

    def fold_partition(batches):
        import collections

        per_room: dict[str, list[pd.DataFrame]] = collections.defaultdict(list)
        for pdf in batches:
            if len(pdf):
                for room, sub in pdf.groupby("room", sort=False):
                    per_room[room].append(sub)
        # batch many rooms' state rows into each yielded frame — one
        # Arrow batch per ~8k rows instead of one tiny batch per room
        # (at millions of rooms per partition, per-batch Arrow overhead
        # would dominate the fold itself)
        buf: list[dict] = []
        for room, parts in per_room.items():
            state, _ = fold_room(pd.concat(parts) if len(parts) > 1 else parts[0])
            buf.extend(state.to_rows(room))
            if len(buf) >= 8192:
                yield pd.DataFrame(buf, columns=STATE_COLS)
                buf = []
        if buf:
            yield pd.DataFrame(buf, columns=STATE_COLS)

    return events.mapInPandas(fold_partition, schema=STATE_SCHEMA)


def players_state(state: DataFrame) -> DataFrame:
    return state.filter(F.col("entity") == "player").select("room", "name", "x", "y", "alive")


def pos_players_state(state: DataFrame) -> DataFrame:
    """Who is standing on cell (x, y) — the posToPlayers map
    (game.go:62): LWW per cell, stale cells persist after moves
    (reference semantics, event.go:47,80)."""
    return state.filter(F.col("entity") == "pos_player").select(
        "room", "x", "y", "name", "alive"
    )


def bombs_state(state: DataFrame) -> DataFrame:
    return state.filter(F.col("entity") == "bomb").select("room", "name", "owner", "x", "y")


def obstacles_state(state: DataFrame) -> DataFrame:
    return state.filter(F.col("entity") == "obstacle").select("room", "x", "y", "destructible")


def flames_state(state: DataFrame) -> DataFrame:
    return state.filter(F.col("entity") == "flame").select("room", "name", "owner", "x", "y")


SNAPSHOT_SCHEMA = StructType(
    [
        StructField("room", StringType(), False),
        StructField("snap_offset", LongType(), False),
        StructField("blob", BinaryType(), False),
    ]
)


def snapshot_states(events: DataFrame, every_k: int = 1000) -> DataFrame:
    """Time-travel checkpoints: fold each room ONCE, emitting an
    encoded GameState every ``every_k`` offsets (a room with no such
    offset gets one empty state at ``snap_offset`` -1). At 100 TB this is
    the structure that makes ``state_at(room, k)`` O(tail) instead of
    O(history): store this table partitioned by room, then any replay
    starts from the nearest snapshot ≤ k (``state_at``).
    ``streaming.pipeline.streaming_snapshots`` maintains the same table
    from a stream."""
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")
    events = _project_fold_columns(events)

    def snap(pdf: pd.DataFrame) -> pd.DataFrame:
        _, snaps = fold_room(pdf, every_k=every_k)
        room = pdf["room"].iloc[0]
        rows = [(room, off, blob) for off, blob in snaps] or [(room, -1, encode_state(GameState()))]
        return pd.DataFrame(rows, columns=["room", "snap_offset", "blob"])

    return events.groupBy("room").applyInPandas(snap, schema=SNAPSHOT_SCHEMA)


def _resume_point(side: pd.DataFrame) -> tuple[GameState | None, int]:
    """The ``(state, after)`` a room's fold resumes from: the one
    encoded state on a cogroup's snapshot side, or no state before
    offset 0 when the room has none."""
    if not len(side):
        return None, -1
    return decode_state(side["blob"].iloc[0]), int(side["snap_offset"].iloc[0])


def state_at(events: DataFrame, snapshots: DataFrame, upto_offset: int) -> DataFrame:
    """state_at(room, k) from the nearest snapshot ≤ k + tail replay.

    One cogrouped fold per room: the snapshot side contributes the
    starting GameState, the event side contributes only offsets in
    (snap_offset, k] — the work is proportional to the tail, not the
    log. Returns the tagged state table (``STATE_SCHEMA``)."""
    best = (
        snapshots.filter(F.col("snap_offset") <= upto_offset)
        .groupBy("room")
        .agg(F.max_by(F.struct("snap_offset", "blob"), "snap_offset").alias("s"))
        .select("room", F.col("s.snap_offset").alias("snap_offset"), F.col("s.blob").alias("blob"))
    )
    tail = _project_fold_columns(events.filter(F.col("offset") <= upto_offset))

    def fold_tail(key, evs: pd.DataFrame, snaps: pd.DataFrame):
        state, _ = fold_room(evs, *_resume_point(snaps))
        return pd.DataFrame(state.to_rows(key[0]), columns=STATE_COLS)

    return (
        tail.groupBy("room")
        .cogroup(best.groupBy("room"))
        .applyInPandas(fold_tail, schema=STATE_SCHEMA)
    )


def paced_replay(events: DataFrame, room: str, pace_ms: int = 200):
    """W4 (watch.go:63-83): ordered event emission for presentation —
    a generator over the room's log in offset order, optionally paced.
    Uses ``toLocalIterator`` so only one partition's rows are resident
    driver-side at a time; the sort happens cluster-side."""
    import time as _time

    it = (
        events.filter(F.col("room") == room)
        .orderBy("offset")
        .toLocalIterator(prefetchPartitions=True)
    )
    for row in it:
        if pace_ms:
            _time.sleep(pace_ms / 1000.0)
        yield row


def player_position_history(events: DataFrame) -> DataFrame:
    """The SQL fast path (SURVEY §2.4 batch-replay note): last
    guard-free upsert per (room, player) via plain window analytics —
    valid when guards pass; the exact operator is ``replay_state``.
    Used for scalable position-history analytics where per-event
    guard re-evaluation is not needed.
    """
    w_ev = events.filter(
        F.col("type").isin("UserMoveEvent", "UserJoinEvent", "UserReviveEvent")
    )
    return (
        w_ev.groupBy("room", "name")
        .agg(
            F.max_by(F.struct("x", "y", "ts"), "offset").alias("last"),
            F.count(F.lit(1)).alias("n_updates"),
        )
        .select("room", "name", "last.x", "last.y", "last.ts", "n_updates")
    )
