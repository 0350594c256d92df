"""The event-log workloads: input generation from the seed, the
timed operation list, and the correctness check of every call.

Each workload has ``stage`` (make the inputs, once, during set-up),
``warm`` (one pass that pays code generation and Python-worker spawn,
also during set-up) and ``measure`` (the timed work). A timed call
forces its result (cache + count, collect, or a write) inside the
timed window; the correctness check of that result runs after the
window closes, so check cost never enters a reported time.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from play_with_pulsar_spark import queries
from play_with_pulsar_spark.operators import compaction, replay, scoreboard
from play_with_pulsar_spark.operators.replay import GameState, fold_pdf
from play_with_pulsar_spark.parity import frame_fingerprint
from play_with_pulsar_spark.sources import event_log
from play_with_pulsar_spark.sources.fixtures import generate_room_events
from play_with_pulsar_spark.sources.stream_source import read_stream
from play_with_pulsar_spark.streaming import pipeline

from bench_math import match_files, max_backlog, median, percentile, read_commit_times, \
    read_file_source_log, self_times
from bench_trace import STAGE_FIELDS, StageMetrics, jvm_gc_seconds

ARROW_EVENT_SCHEMA = pa.schema([
    ("offset", pa.int64()), ("room", pa.string()), ("ts", pa.timestamp("us")),
    ("type", pa.string()), ("name", pa.string()), ("avatar", pa.string()),
    ("comment", pa.string()), ("x", pa.int32()), ("y", pa.int32()),
    ("alive", pa.bool_()), ("list", pa.list_(pa.int32())),
])
STATE_COLS = [f.name for f in replay.STATE_SCHEMA.fields]

# Input sizes (see NOTES.md for why they are smaller than a full-size
# run). Room sizes are skewed: the largest room holds ~16% of events.
TOP_ROOM_SHARE = 0.16
REPLAY_ROOMS, REPLAY_EVENTS, SNAPSHOT_EVERY = 48, 48_000, 500
# Registry queries on the committed reference game log, read as a user
# of the query catalog would (each compared with its DuckDB oracle).
REGISTRY_QUERIES = ("game_a4a5_global_rank",)
NO_SF_DIR = ""  # these queries read only the committed game log
# Live phase: 960 events/s for 10 s, below the catch-up rate (~1,200
# events/s on a 4-core VM), so its micro-batches keep pace (~2 s each).
STREAM_ROOMS, STREAM_EVENTS_PER_ROOM_PER_FILE = 32, 3  # 96 events per file
STREAM_WARM_FILES, STREAM_BACKLOG_FILES, STREAM_CATCHUP_ROUNDS = 2, 64, 2
STREAM_LIVE_FILES, STREAM_FILES_PER_S = 100, 10

# Per-layer metrics, in output order. A traced run reports every one;
# a layer the workload never calls reports 0.
LAYERS = ("sources.event_log", "operators.replay", "operators.scoreboard",
          "operators.compaction", "streaming.pipeline", "queries")
PER_LAYER = (
    [f"session.{m}" for m in ("start_s", "jvm_gc_s", "jvm_peak_rss_mb", "python_peak_mb")]
    + ["sources.event_log.scan_s"]
    + [f"operators.replay.{m}" for m in (
        "replay_state_s", "replay_state_grouped_s", "snapshot_states_s", "state_at_s",
        "fold_events_per_s", "state_rows_out", "snapshot_bytes", "task_skew",
        "kernel_events_per_s")]
    + ["operators.scoreboard.s", "operators.compaction.latest_per_key_s",
       "operators.compaction.rows_out_per_row_in"]
    + [f"streaming.pipeline.{m}" for m in (
        "batch_s", "add_batch_s", "batches", "input_rows_per_batch",
        "output_rows_per_input_row", "state_rows_total", "state_memory_bytes",
        "state_commit_s", "backlog_files_max", "file_latency_p50_s", "file_latency_p90_s",
        "kill_counts_latency_p50_s", "generator_late_max_s")]
    + [f"queries.{q}_s" for q in REGISTRY_QUERIES]
    + [f"{layer}.{k}" for layer in LAYERS for k in STAGE_FIELDS]
    + ["trace.overhead_s", "trace.unaccounted_s"]
)


# --- fingerprints: order-insensitive per-key (count, hash sum) ---------

def _cell(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def py_fingerprint(rows, key, cols) -> dict:
    """Python twin of :func:`spark_fingerprint` over dict rows."""
    out: dict = {}
    for r in rows:
        s = "|".join(_cell(r[c]) for c in cols)
        h = int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
        k = key(r) if callable(key) else r[key]
        n, acc = out.get(k, (0, 0))
        out[k] = (n + 1, acc + h)
    return out


def spark_fingerprint(df, key, cols) -> dict:
    """Per-key (row count, sum of a 48-bit md5 of the row's cells).
    ``key`` is a column name or a Column. One small aggregate job."""
    cells = [F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in cols]
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *cells)), 1, 12), 16, 10).cast("long")
    k = F.col(key) if isinstance(key, str) else key
    rows = df.groupBy(k.alias("_k")).agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()
    return {r["_k"]: (r["n"], r["h"]) for r in rows}


def _diff(got: dict, want: dict) -> str | None:
    if got == want:
        return None
    bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{len(bad)} keys differ, e.g. {bad[:3]}"


def materialized(df):
    """Evaluate every column of ``df`` once, into the cache, so the
    check after the timed window reads the same rows without
    recomputing them."""
    df = df.cache()
    df.count()
    return df


def fingerprint_check(key, cols, want):
    def check(df):
        try:
            return _diff(spark_fingerprint(df, key, cols), want)
        finally:
            df.unpersist()
    return check


# --- generation --------------------------------------------------------

def skewed_sizes(rng: random.Random, n_rooms: int, total: int, top_share: float) -> list[int]:
    """Zipf-like room sizes whose largest share is ~``top_share``,
    assigned to rooms in a seeded random order."""
    lo, hi = 0.0, 3.0
    for _ in range(50):
        s = (lo + hi) / 2
        w = [(i + 1) ** -s for i in range(n_rooms)]
        lo, hi = (s, hi) if w[0] / sum(w) < top_share else (lo, s)
    sizes = [max(40, round(total * x / sum(w))) for x in w]
    rng.shuffle(sizes)
    return sizes


def room_events(seed: int, sizes: list[int]) -> dict[str, list[dict]]:
    return {f"room-{i:04d}": generate_room_events(f"room-{i:04d}", n, seed)
            for i, n in enumerate(sizes)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- shared per-run machinery -------------------------------------------

@dataclass
class Ctx:
    spark: object
    tracer: object
    tmp: str
    seed: int
    traced: bool


@dataclass
class Outcome:
    """What a workload measured. ``walls`` holds the untraced pass
    times; ``latencies`` the stream's per-file latencies."""

    walls: list[float] = field(default_factory=list)
    events_per_pass: int = 0
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    op_times: dict[str, list[float]] = field(default_factory=dict)
    phase_s: dict[str, float] = field(default_factory=dict)

    def fail(self, note: str) -> None:
        self.failed += 1
        self.notes.append(note)


class OpRunner:
    """Times one call, checks its result after the timed window, and
    counts it. With tracing on, the call also opens a span (and with it
    a Spark job group). ``elapsed`` sums the timed windows."""

    def __init__(self, ctx: Ctx, out: Outcome, check: bool = True):
        self.ctx, self.out, self.check = ctx, out, check
        self.elapsed = 0.0

    def __call__(self, name: str, fn, check=None):
        self.out.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(name):
                result = fn()
        except Exception as e:  # a raising call is a failed operation
            self.elapsed += time.perf_counter() - t0
            self.out.fail(f"{name} raised {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = time.perf_counter() - t0
        self.elapsed += dt
        self.out.op_times.setdefault(name, []).append(dt)
        if check is not None and self.check:
            try:
                problem = check(result)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {str(e)[:300]}"
            if problem:
                self.out.fail(f"{name} check failed: {problem}")
        return result


# --- replay ------------------------------------------------------------

class Replay:
    """Batch reads of a pre-staged room-partitioned parquet log: a full
    scan, the fold (shuffled and shuffle-free),
    snapshots + time travel at one cut, the scoreboard chain,
    latest-per-key compaction, and a registry query.

    The call list is repeated as passes. Untraced passes give
    ``wall_s``; with tracing on, traced passes alternate with untraced
    ones in the same process, so the tracing overhead is their
    difference."""

    layers = ("sources.event_log", "operators.replay", "operators.scoreboard",
              "operators.compaction", "queries")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def stage(self) -> None:
        """Generate the rooms' events and write them as the engine's log
        layout (hive-partitioned by room) with pyarrow; compute every
        reference result with a pure-Python fold of the same lists."""
        rng = random.Random(f"replay:{self.ctx.seed}")
        sizes = skewed_sizes(rng, REPLAY_ROOMS, REPLAY_EVENTS, TOP_ROOM_SHARE)
        self.events = room_events(self.ctx.seed, sizes)
        self.n_events = sum(sizes)
        self.cut = sorted(sizes)[len(sizes) // 2] - 1  # half the rooms end by then
        self.path = os.path.join(self.ctx.tmp, "replay_log")
        table = pa.Table.from_pylist([e for evs in self.events.values() for e in evs],
                                     schema=ARROW_EVENT_SCHEMA)
        pq.write_to_dataset(table, self.path, partition_cols=["room"])
        self.expect()

    def expect(self) -> None:
        full, at = [], []
        for room, evs in self.events.items():
            gs = GameState()
            for ev in evs[:self.cut + 1]:
                gs.apply(ev)
            at.extend(gs.to_rows(room))
            for ev in evs[self.cut + 1:]:
                gs.apply(ev)
            full.extend(gs.to_rows(room))
        self.want_full = py_fingerprint(full, "room", STATE_COLS)
        self.want_at = py_fingerprint(at, "room", STATE_COLS)
        self.want_snaps = {r: max(1, len(e) // SNAPSHOT_EVERY) for r, e in self.events.items()}
        kills: dict = {}
        for evs in self.events.values():
            for e in evs:
                if e["type"] == "UserDeadEvent" and e["comment"] is not None \
                        and e["name"] != e["comment"]:
                    kills[e["comment"]] = kills.get(e["comment"], 0) + 1
        self.want_ranked = sorted(
            (p, t, 1 + sum(1 for u in kills.values() if u > t)) for p, t in kills.items())
        latest: dict = {}
        for evs in self.events.values():
            for e in evs:
                latest[(e["room"], e["name"])] = e
        self.want_latest = py_fingerprint(latest.values(), "room", ["room", "name", "offset"])
        self.n_latest = len(latest)
        import duckdb

        con = duckdb.connect()
        try:
            self.want_queries = {q: frame_fingerprint(con.execute(queries.REGISTRY[q].oracle).df())
                                 for q in REGISTRY_QUERIES}
        finally:
            con.close()

    def one_pass(self, run: OpRunner) -> None:
        spark = self.ctx.spark
        log = event_log.read_event_log(spark, self.path)
        st = self.last_pass = {}
        run("sources.event_log.scan",
            lambda: log.write.format("noop").mode("overwrite").save())

        def full_check(df):
            st["rows"] = df.count()
            return fingerprint_check("room", STATE_COLS, self.want_full)(df)

        run("operators.replay.replay_state", lambda: materialized(replay.replay_state(log)),
            full_check)
        run("operators.replay.replay_state_grouped",
            lambda: materialized(replay.replay_state_grouped(log)),
            fingerprint_check("room", STATE_COLS, self.want_full))

        def snap_check(snaps):
            rows = snaps.groupBy("room").agg(F.count(F.lit(1)).alias("n"),
                                             F.sum(F.length("blob")).alias("b")).collect()
            st["snap_bytes"] = sum(r["b"] for r in rows)
            return _diff({r["room"]: r["n"] for r in rows}, self.want_snaps)

        snaps = run("operators.replay.snapshot_states",
                    lambda: materialized(replay.snapshot_states(log, every_k=SNAPSHOT_EVERY)),
                    snap_check)
        if snaps is not None:
            run("operators.replay.state_at",
                lambda: materialized(replay.state_at(log, snaps, self.cut)),
                fingerprint_check("room", STATE_COLS, self.want_at))
            snaps.unpersist()
        run("operators.scoreboard.ranked_scoreboard",
            lambda: scoreboard.ranked_scoreboard(scoreboard.global_scoreboard(
                scoreboard.kill_counts(log))).collect(),
            lambda rows: _diff({"all": sorted((r["player"], r["total"], r["rnk"]) for r in rows)},
                               {"all": self.want_ranked}))
        run("operators.compaction.latest_per_key",
            lambda: materialized(compaction.latest_per_key(log, ["room", "name"], ["offset"])),
            fingerprint_check("room", ["room", "name", "offset"], self.want_latest))
        for q in REGISTRY_QUERIES:
            run(f"queries.{q}",
                lambda q=q: queries.REGISTRY[q].fn(spark, NO_SF_DIR).toPandas(),
                lambda pdf, q=q: None if frame_fingerprint(pdf) == self.want_queries[q]
                else "differs from its DuckDB oracle")

    def warm(self, out: Outcome) -> None:
        """One pass whose calls are neither checked nor counted: it only
        pays first-call code generation and Python-worker start."""
        self.one_pass(OpRunner(self.ctx, Outcome(), check=False))

    def measure(self, seconds: float, out: Outcome) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        out.events_per_pass = self.n_events
        run = OpRunner(ctx, out)
        rows = []
        deadline = time.perf_counter() + seconds
        while not rows or time.perf_counter() < deadline or (ctx.traced and len(rows) < 2):
            traced = ctx.traced and len(rows) % 2 == 1
            tracer.enabled = traced
            gc0 = jvm_gc_seconds(ctx.spark.sparkContext)
            first = len(tracer.spans)
            run.elapsed = 0.0
            self.one_pass(run)
            rows.append({"wall": run.elapsed, "traced": traced, "spans": (first, len(tracer.spans)),
                         "gc": jvm_gc_seconds(ctx.spark.sparkContext) - gc0})
        tracer.enabled = False
        out.walls.extend(r["wall"] for r in rows if not r["traced"])
        traced = [r for r in rows if r["traced"]]
        if traced:
            self.layer_metrics(rows, traced, out)

    def layer_metrics(self, rows, traced, out: Outcome) -> None:
        """Per-layer times and stage metrics of the traced passes (each
        per pass), the tracing overhead, and the span accounting."""
        L, n, tracer = out.layer, len(traced), self.ctx.tracer
        spans = [s for r in traced for s in tracer.spans[slice(*r["spans"])]]
        untraced = [r["wall"] for r in rows if not r["traced"]]
        L["trace.overhead_s"] = median([r["wall"] for r in traced]) - median(untraced)
        own = self_times(spans)
        L["trace.unaccounted_s"] = median([
            r["wall"] - sum(own[s.span_id] for s in tracer.spans[slice(*r["spans"])])
            for r in traced])
        L["session.jvm_gc_s"] = median([r["gc"] for r in traced])
        stage = StageMetrics(self.ctx.spark.sparkContext)
        attempts = {s.span_id: stage.stages(stage.stage_ids(s.attrs["job_group"])) for s in spans}
        for layer in self.layers:
            acc = dict.fromkeys(STAGE_FIELDS, 0.0)
            for s in spans:
                if s.name.startswith(layer + "."):
                    for k, v in StageMetrics.totals(attempts[s.span_id]).items():
                        acc[k] += v
            for k, v in acc.items():
                L[f"{layer}.{k}"] = v / n

        def span_s(name: str) -> float:
            return sum(s.duration for s in spans if s.name == name) / n

        L["sources.event_log.scan_s"] = span_s("sources.event_log.scan")
        for f in ("replay_state", "replay_state_grouped", "snapshot_states", "state_at"):
            L[f"operators.replay.{f}_s"] = span_s(f"operators.replay.{f}")
        L["operators.replay.fold_events_per_s"] = (
            self.n_events / L["operators.replay.replay_state_s"])
        L["operators.replay.state_rows_out"] = self.last_pass.get("rows", 0)
        L["operators.replay.snapshot_bytes"] = self.last_pass.get("snap_bytes", 0)
        L["operators.replay.task_skew"] = median([
            stage.task_skew(attempts[s.span_id])
            for s in spans if s.name == "operators.replay.replay_state"])
        L["operators.replay.kernel_events_per_s"] = self.kernel_rate()
        L["operators.scoreboard.s"] = span_s("operators.scoreboard.ranked_scoreboard")
        L["operators.compaction.latest_per_key_s"] = span_s("operators.compaction.latest_per_key")
        L["operators.compaction.rows_out_per_row_in"] = self.n_latest / self.n_events
        for q in REGISTRY_QUERIES:
            L[f"queries.{q}_s"] = span_s(f"queries.{q}")

    def kernel_rate(self) -> float:
        """Single-threaded ``fold_pdf`` over the same rooms in the
        driver: the one-core baseline the distributed fold is held to."""
        import pandas as pd

        frames = [pd.DataFrame(evs) for evs in self.events.values()]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for pdf in frames:
                fold_pdf(pdf)
            best = min(best, time.perf_counter() - t0)
        return self.n_events / best


# --- stream ------------------------------------------------------------

class Stream:
    """An open-loop generator renames pre-built parquet files into a
    watched directory; ``streaming_fold`` (foreachBatch sink) and
    ``streaming_kill_counts`` (memory sink) consume it concurrently.
    Catch-up rounds land a backlog of files at once and time the
    drain; then files arrive on a fixed schedule (live phase, one
    latency sample per file)."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.queries = ()
        self.d = {k: os.path.join(ctx.tmp, k) for k in ("in", "out", "ck_fold", "ck_kill")}

    def stage(self) -> None:
        """Pre-build every file. A catch-up round's files go into one
        directory of their own, so the round lands with one rename."""
        c = STREAM_EVENTS_PER_ROOM_PER_FILE
        n_files = STREAM_WARM_FILES + STREAM_CATCHUP_ROUNDS * STREAM_BACKLOG_FILES \
            + STREAM_LIVE_FILES
        self.events = room_events(self.ctx.seed, [c * n_files] * STREAM_ROOMS)
        self.staging = fresh_dir(os.path.join(self.ctx.tmp, "stream_staging"))
        self.names = [f"part-{f:06d}.parquet" for f in range(n_files)]
        self.rounds = [f"backlog-{r}" for r in range(STREAM_CATCHUP_ROUNDS)]
        self.home = {}  # file name -> sub-directory it is staged and offered in
        for r, sub in enumerate(self.rounds):
            lo = STREAM_WARM_FILES + r * STREAM_BACKLOG_FILES
            self.home.update(dict.fromkeys(self.names[lo:lo + STREAM_BACKLOG_FILES], sub))
            os.makedirs(os.path.join(self.staging, sub))
        for f, name in enumerate(self.names):
            rows = [e for evs in self.events.values() for e in evs[f * c:(f + 1) * c]]
            pq.write_table(pa.Table.from_pylist(rows, schema=ARROW_EVENT_SCHEMA),
                           os.path.join(self.staging, self.home.get(name, ""), name))
        self.rows_per_file = STREAM_ROOMS * c
        for k in self.d.values():
            fresh_dir(k)
        self.offered: dict[str, float] = {}
        self.late: list[float] = []

    def _offer(self, names, due: float | None = None) -> None:
        """Rename each file into the watched directory (atomic, so the
        source never sees a partial file)."""
        for name in names:
            os.rename(os.path.join(self.staging, name), os.path.join(self.d["in"], name))
            now = time.time()
            self.offered[name] = now if due is None else due
            if due is not None:
                self.late.append(now - due)

    def _offer_round(self, sub: str) -> None:
        """Land a whole catch-up round with one directory rename."""
        os.rename(os.path.join(self.staging, sub), os.path.join(self.d["in"], sub))
        now = time.time()
        self.offered.update((n, now) for n, h in self.home.items() if h == sub)

    def _drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def warm(self, out: Outcome) -> None:
        """Start both queries and run the warm-up files through them."""
        spark = self.ctx.spark
        # the catch-up rounds arrive as sub-directories
        cfg = {"kind": "files", "path": self.d["in"], "max_files_per_trigger": 100_000,
               "options": {"recursiveFileLookup": "true"}}
        out_dir = self.d["out"]

        def sink(df, batch_id):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))

        try:
            fold = (pipeline.streaming_fold(read_stream(spark, cfg)).writeStream
                    .outputMode("update").foreachBatch(sink)
                    .option("checkpointLocation", self.d["ck_fold"]).start())
            self.queries = (fold,)
            kills = (pipeline.streaming_kill_counts(read_stream(spark, cfg)).writeStream
                     .outputMode("complete").format("memory").queryName("bench_kills")
                     .option("checkpointLocation", self.d["ck_kill"]).start())
            self.queries = (fold, kills)
            self._offer(self.names[:STREAM_WARM_FILES])
            self._drain()
        except Exception as e:
            out.notes.append(f"stream warm-up raised {type(e).__name__}: {str(e)[:300]}")

    def measure(self, seconds: float, out: Outcome) -> None:
        """Catch-up rounds, then the live phase. The live schedule is
        fixed (``STREAM_LIVE_FILES`` at ``STREAM_FILES_PER_S``), so
        ``seconds`` does not change the work."""
        sc = self.ctx.spark.sparkContext
        tracer = self.ctx.tracer
        live = self.names[STREAM_WARM_FILES + STREAM_CATCHUP_ROUNDS * STREAM_BACKLOG_FILES:]
        n_warm_batches = {q: len(_progress(q)) for q in self.queries}
        stage = StageMetrics(sc)
        warm_stages = {s for q in self.queries for s in stage.stage_ids(str(q.runId))}
        gc0 = jvm_gc_seconds(sc)
        walls = {False: [], True: []}
        progress: dict = {}
        try:
            for r, sub in enumerate(self.rounds):
                traced = self.ctx.traced and r == len(self.rounds) - 1
                tracer.enabled = traced
                t0 = time.perf_counter()
                with tracer.span("streaming.pipeline.catch_up"):
                    self._offer_round(sub)
                    self._drain()
                walls[traced].append(time.perf_counter() - t0)
            tracer.enabled = self.ctx.traced
            t0 = time.perf_counter()
            start = time.time() + 0.05
            self.live_due = {n: start + i / STREAM_FILES_PER_S for i, n in enumerate(live)}
            gen = threading.Thread(target=self._generate, args=(live,), name="file-generator")
            with tracer.span("streaming.pipeline.live"):
                gen.start()
                gen.join()
                self._drain()
            out.phase_s["live"] = time.perf_counter() - t0
        except Exception as e:
            out.notes.append(f"stream raised {type(e).__name__}: {str(e)[:300]}")
        finally:
            tracer.enabled = False
            gc = jvm_gc_seconds(sc) - gc0
            for q in self.queries:
                progress[q] = _progress(q)
                q.stop()
        out.walls.extend(walls[False])
        out.events_per_pass = STREAM_BACKLOG_FILES * self.rows_per_file

        # --- file accounting: every offered file to a committed batch ---
        out.attempted += len(self.offered)
        fm = {}
        for ck in ("ck_fold", "ck_kill"):
            fm[ck] = match_files(
                self.offered,
                read_file_source_log(os.path.join(self.d[ck], "sources", "0")),
                read_commit_times(os.path.join(self.d[ck], "commits")))
        unmatched = sorted(set(fm["ck_fold"].unmatched) | set(fm["ck_kill"].unmatched))
        out.failed += len(unmatched)
        if unmatched:
            out.notes.append(f"files never committed: {unmatched}")
        # The fold reads every row of a file, so its progress must count
        # what the source log lists. (The kill-count scan pushes its type
        # filter into parquet and may skip whole row groups, so its
        # numInputRows can be lower; only its source log is used.)
        rows_by_batch: dict[int, int] = {}
        for b in fm["ck_fold"].batch_of.values():
            rows_by_batch[b] = rows_by_batch.get(b, 0) + self.rows_per_file
        fold_progress = [p for p in progress.get(self.queries[0], []) if p["numInputRows"] > 0] \
            if self.queries else []
        for p in fold_progress:
            if rows_by_batch.get(p["batchId"]) != p["numInputRows"]:
                out.fail(f"fold batch {p['batchId']}: numInputRows {p['numInputRows']} != "
                         f"{rows_by_batch.get(p['batchId'])} from its source log")
        out.phase_s["generator_late_p50"] = median(self.late)
        out.phase_s["generator_late_max"] = max(self.late, default=0.0)
        lat = fm["ck_fold"].latencies
        out.latencies.extend(lat[n] for n in live if n in lat)
        t0 = time.perf_counter()
        self.correctness(out)
        out.phase_s["check"] = time.perf_counter() - t0
        if self.ctx.traced and len(self.queries) == 2:
            fold = self.queries[0]
            batches = [p for p in progress[fold][n_warm_batches[fold]:] if p["numInputRows"] > 0]
            self.layer_metrics(out, batches, fm, live, gc, walls, warm_stages)

    def _generate(self, live) -> None:
        for name in live:
            due = self.live_due[name]
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self._offer([name], due)

    def correctness(self, out: Outcome) -> None:
        """The streamed results equal a pure-Python fold of every
        offered event (the reference the replay workload holds batch
        ``replay_state`` to): the fold's final state, i.e. each room's
        rows from the last batch that touched it, and the kill counts."""
        spark = self.ctx.spark
        want_state, kills = [], {}
        for room, evs in self.events.items():
            gs = GameState()
            for e in evs:
                gs.apply(e)
                if e["type"] == "UserDeadEvent" and None not in (e["name"], e["comment"]) \
                        and e["name"] != e["comment"]:
                    kills[(room, e["comment"])] = kills.get((room, e["comment"]), 0) + 1
            want_state.extend(gs.to_rows(room))
        kill_cols = ["room", "killer", "kills"]

        def got_state():
            states = spark.read.parquet(self.d["out"])
            self.out_rows = {r["batch_id"]: r["n"] for r in states.groupBy("batch_id")
                             .agg(F.count(F.lit(1)).alias("n")).collect()}
            last = states.groupBy("room").agg(F.max("batch_id").alias("batch_id"))
            return spark_fingerprint(states.join(last, ["room", "batch_id"]), "room", STATE_COLS)

        checks = [
            ("final fold state", got_state, py_fingerprint(want_state, "room", STATE_COLS)),
            ("kill counts",
             lambda: spark_fingerprint(spark.table("bench_kills"), "room", kill_cols),
             py_fingerprint([dict(zip(kill_cols, (r, k, n))) for (r, k), n in kills.items()],
                            "room", kill_cols)),
        ]
        self.out_rows = {}
        for what, got, want in checks:
            out.attempted += 1
            try:
                problem = _diff(got(), want)
            except Exception as e:
                problem = f"raised {type(e).__name__}: {str(e)[:300]}"
            if problem:
                out.fail(f"stream {what}: {problem}")

    def layer_metrics(self, out, progress, fm, live, gc, walls, warm_stages) -> None:
        L = out.layer
        P = "streaming.pipeline"
        L[f"{P}.batch_s"] = median([p["durationMs"].get("triggerExecution", 0) / 1000
                                    for p in progress])
        L[f"{P}.add_batch_s"] = median([p["durationMs"].get("addBatch", 0) / 1000
                                        for p in progress])
        L[f"{P}.batches"] = len(progress)
        rows_in = sum(p["numInputRows"] for p in progress)
        L[f"{P}.input_rows_per_batch"] = rows_in / max(len(progress), 1)
        rows_out = sum(self.out_rows.get(p["batchId"], 0) for p in progress)
        L[f"{P}.output_rows_per_input_row"] = rows_out / max(rows_in, 1)
        ops = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
        L[f"{P}.state_rows_total"] = ops[0].get("numRowsTotal", 0)
        L[f"{P}.state_memory_bytes"] = ops[0].get("memoryUsedBytes", 0)
        L[f"{P}.state_commit_s"] = median([
            (p.get("stateOperators") or [{}])[0].get("commitTimeMs", 0) / 1000 for p in progress])
        commits = read_commit_times(os.path.join(self.d["ck_fold"], "commits"))
        committed_at = {n: commits[b] for n, b in fm["ck_fold"].batch_of.items()}
        L[f"{P}.backlog_files_max"] = max_backlog({n: self.offered[n] for n in live}, committed_at)
        L[f"{P}.file_latency_p50_s"] = percentile(out.latencies, 50)
        L[f"{P}.file_latency_p90_s"] = percentile(out.latencies, 90)
        kl = fm["ck_kill"].latencies
        L[f"{P}.kill_counts_latency_p50_s"] = median([kl[n] for n in live if n in kl])
        L[f"{P}.generator_late_max_s"] = max(self.late, default=0.0)
        L["session.jvm_gc_s"] = gc
        stage = StageMetrics(self.ctx.spark.sparkContext)
        run_ids = [str(q.runId) for q in self.queries]
        attempts = stage.stages(sorted({s for r in run_ids for s in stage.stage_ids(r)}
                                       - warm_stages))
        for k, v in StageMetrics.totals(attempts).items():
            L[f"{P}.{k}"] = v
        # the traced catch-up round against the untraced ones before it;
        # the catch-up span has no children, so its self time is its
        # whole duration and the unaccounted part is the timer's own
        if walls[True] and walls[False]:
            L["trace.overhead_s"] = walls[True][-1] - median(walls[False])
        catch_up = [s for s in self.ctx.tracer.spans if s.name == f"{P}.catch_up"]
        if catch_up and walls[True]:
            L["trace.unaccounted_s"] = walls[True][-1] - self_times(catch_up)[catch_up[-1].span_id]


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


WORKLOADS = {"replay": Replay, "stream": Stream}
