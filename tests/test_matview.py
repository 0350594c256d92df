"""Maintained latest-state view == full-log compaction, both in
batch-incremental and streaming foreachBatch modes."""

from __future__ import annotations

from pyspark.sql import functions as F

from play_with_pulsar_spark.operators.compaction import latest_per_key
from play_with_pulsar_spark.operators.matview import LatestStateView
from play_with_pulsar_spark.sources.fixtures import game_event_log


def _player_events(log):
    return log.filter(
        F.col("type").isin("UserMoveEvent", "UserJoinEvent", "UserReviveEvent")
    ).select("room", "name", "offset", "x", "y")


def test_incremental_view_equals_full_compaction(spark, tmp_path):
    log = game_event_log(spark, n_rooms=2, events_per_room=900, seed=42).cache()
    ev = _player_events(log)
    view = LatestStateView(
        spark, str(tmp_path / "latest_pos"), ["room", "name"], ["offset"]
    )
    # feed three incremental batches
    for lo, hi in [(0, 300), (300, 700), (700, 900)]:
        view.update(ev.filter((F.col("offset") >= lo) & (F.col("offset") < hi)))
    got = {(r.room, r.name): (r.offset, r.x, r.y) for r in view.read().collect()}
    want = {
        (r.room, r.name): (r.offset, r.x, r.y)
        for r in latest_per_key(ev, ["room", "name"], ["offset"]).collect()
    }
    assert got == want
    log.unpersist()


def test_streaming_foreach_batch_maintenance(spark, tmp_path):
    log = game_event_log(spark, n_rooms=2, events_per_room=600, seed=42).cache()
    for i, (lo, hi) in enumerate([(0, 200), (200, 400), (400, 600)]):
        (
            log.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
            .coalesce(1).write.mode("overwrite")
            .parquet(str(tmp_path / "in" / f"part{i}"))
        )
    from play_with_pulsar_spark.schema import GAME_EVENT_SCHEMA

    stream = (
        spark.readStream.schema(GAME_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "part*"))
    )
    view = LatestStateView(
        spark, str(tmp_path / "view"), ["room", "name"], ["offset"]
    )
    q = (
        _player_events(stream)
        .writeStream.outputMode("append")
        .foreachBatch(view.foreach_batch())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.room, r.name): r.offset for r in view.read().collect()}
    want = {
        (r.room, r.name): r.offset
        for r in latest_per_key(_player_events(log), ["room", "name"], ["offset"]).collect()
    }
    assert got == want
    log.unpersist()


def test_view_version_time_travel(spark, tmp_path):
    """keep_versions > 1 retains superseded versions for time-travel
    reads; retention prunes beyond the window; the pointer always
    serves the newest commit."""
    import os

    import pandas as pd

    from play_with_pulsar_spark.operators.matview import LatestStateView

    path = str(tmp_path / "view")
    view = LatestStateView(
        spark, path, key_cols=["k"], order_cols=["o"], keep_versions=2
    )

    def batch(rows):
        return spark.createDataFrame(pd.DataFrame(rows), "k string, o long, v long")

    view.update(batch([{"k": "a", "o": 1, "v": 10}]))                 # v0
    view.update(batch([{"k": "a", "o": 2, "v": 20}]))                 # v1
    view.update(batch([{"k": "b", "o": 3, "v": 30}]))                 # v2
    assert view.versions() == [0, 1, 2]
    assert sorted(os.listdir(path)) == ["current", "v0", "v1", "v2"]
    with open(os.path.join(path, "current")) as f:
        assert f.read() == "v2"
    assert {(r.k, r.v) for r in view.read().collect()} == {("a", 20), ("b", 30)}
    # time travel: v1 had only the updated 'a'
    assert {(r.k, r.v) for r in view.read(version=1).collect()} == {("a", 20)}
    assert {(r.k, r.v) for r in view.read(version=0).collect()} == {("a", 10)}
    # a fourth commit pushes v0 past the window (live + 2 superseded),
    # but reader grace keeps it on disk for ONE more commit
    view.update(batch([{"k": "b", "o": 4, "v": 40}]))                 # v3
    assert view.versions() == [0, 1, 2, 3]
    # the fifth commit finally prunes v0
    view.update(batch([{"k": "a", "o": 5, "v": 50}]))                 # v4
    assert view.versions() == [1, 2, 3, 4]
    assert not os.path.exists(os.path.join(path, "v0"))
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        view.read(version=0)


def test_view_reader_grace_survives_one_update(spark, tmp_path):
    """A lazy DataFrame from read() resolves its files at execution
    time; with keep_versions=0 the superseded version is retained one
    extra commit, so the DataFrame stays executable across the NEXT
    update (ADVICE r2: previously it was deleted at flip time and the
    reader got FileNotFound)."""
    import os

    import pandas as pd

    path = str(tmp_path / "grace_view")
    view = LatestStateView(spark, path, key_cols=["k"], order_cols=["o"])

    def batch(rows):
        return spark.createDataFrame(pd.DataFrame(rows), "k string, o long, v long")

    view.update(batch([{"k": "a", "o": 1, "v": 10}]))                 # v0
    stale = view.read()                # lazy — points at v0's files
    view.update(batch([{"k": "a", "o": 2, "v": 20}]))                 # v1; v0 kept (grace)
    assert {(r.k, r.v) for r in stale.collect()} == {("a", 10)}
    assert {(r.k, r.v) for r in view.read().collect()} == {("a", 20)}
    # the next commit prunes v0 — the documented limit of the grace
    view.update(batch([{"k": "a", "o": 3, "v": 30}]))                 # v2; v0 pruned
    assert not os.path.exists(os.path.join(path, "v0"))
    assert os.path.exists(os.path.join(path, "v1"))  # v1 now in ITS grace window


def test_view_keeps_order_columns_left_out_of_the_payload(spark, tmp_path):
    """A payload that leaves out the order column still stores it:
    the second update re-compacts the stored version by it (it used
    to fail with UNRESOLVED_COLUMN on ``o``)."""
    import pandas as pd

    view = LatestStateView(
        spark, str(tmp_path / "payload_view"), ["k"], ["o"], payload_cols=["v"]
    )

    def batch(rows):
        return spark.createDataFrame(pd.DataFrame(rows), "k string, o long, v long")

    view.update(batch([{"k": "a", "o": 2, "v": 20}, {"k": "b", "o": 1, "v": 10}]))
    view.update(batch([{"k": "a", "o": 1, "v": 99}, {"k": "b", "o": 3, "v": 30}]))
    assert sorted(view.read().columns) == ["k", "o", "v"]
    assert {(r.k, r.v) for r in view.read().collect()} == {("a", 20), ("b", 30)}
