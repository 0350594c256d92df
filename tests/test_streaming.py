"""Streaming parity (SURVEY §5.2.4): batch and streaming forms of the
same operator must agree on final state, regardless of micro-batch
boundaries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators.replay import (
    STATE_SCHEMA,
    players_state,
    replay_state,
)
from play_with_pulsar_spark.operators.scoreboard import kill_counts
from play_with_pulsar_spark.sources.fixtures import game_event_log
from play_with_pulsar_spark.streaming import pipeline as sp


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    """The fixture log split into 4 offset-range files so
    maxFilesPerTrigger=1 yields 4 deterministic micro-batches."""
    d = tmp_path_factory.mktemp("gamelog")
    log = game_event_log(spark, n_rooms=3, events_per_room=1200, seed=42).cache()
    bounds = [(0, 300), (300, 600), (600, 900), (900, 1200)]
    for i, (lo, hi) in enumerate(bounds):
        (
            log.filter((F.col("offset") >= lo) & (F.col("offset") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d / f"part{i}"))
        )
    yield {"dir": str(d), "batch_df": log}
    log.unpersist()


def _glob(d: str) -> str:
    return d + "/part*"


def test_streaming_kill_counts_matches_batch(spark, log_dir):
    stream = sp.stream_game_events(spark, _glob(log_dir["dir"]))
    out = sp.run_to_completion(
        sp.streaming_kill_counts(stream), "stream_kills", "complete"
    )
    got = {(r.room, r.killer): r.kills for r in out.collect()}
    want = {
        (r.room, r.killer): r.kills
        for r in kill_counts(log_dir["batch_df"]).collect()
    }
    assert got == want


def test_stream_static_enrichment_join_matches_batch(spark, log_dir):
    """Stream-static join (the dimension-enrichment shape): the
    streaming side joins a STATIC room-dim table per micro-batch;
    final output equals the batch join regardless of batch
    boundaries. (The static side is broadcast per micro-batch — the
    same plan a Kafka-source stream would get.)"""
    rooms = sorted(
        r.room for r in log_dir["batch_df"].select("room").distinct().collect()
    )
    dim = spark.createDataFrame(
        [(room, f"region-{i % 2}") for i, room in enumerate(rooms)],
        "room string, region string",
    )
    stream = sp.stream_game_events(spark, _glob(log_dir["dir"]))
    enriched = (
        stream.filter(F.col("type") == "UserDeadEvent")
        .join(F.broadcast(dim), "room")
        .groupBy("region")
        .agg(F.count(F.lit(1)).alias("deaths"))
    )
    out = sp.run_to_completion(enriched, "stream_enrich", "complete")
    got = {(r.region): r.deaths for r in out.collect()}
    want = {
        r.region: r.deaths
        for r in (
            log_dir["batch_df"]
            .filter(F.col("type") == "UserDeadEvent")
            .join(dim, "room")
            .groupBy("region")
            .agg(F.count(F.lit(1)).alias("deaths"))
            .collect()
        )
    }
    assert got == want


def test_run_to_completion_pins_state_partitions_to_cores(spark, log_dir):
    """A stateful query started through ``run_to_completion`` keeps its
    state store at one partition per core, whatever the session's
    ``spark.sql.shuffle.partitions`` says (at a plain session's 200,
    every micro-batch pays 200 tasks and 200 state-store commits); the
    session keeps its own setting."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    parts, terminated = [], threading.Event()

    class Probe(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            parts.extend(op.numShufflePartitions for op in event.progress.stateOperators)

        def onQueryTerminated(self, event):
            terminated.set()

    probe, conf = Probe(), "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "200")
    spark.streams.addListener(probe)
    try:
        stream = sp.stream_game_events(spark, _glob(log_dir["dir"]), max_files_per_trigger=8)
        sp.run_to_completion(sp.streaming_kill_counts(stream), "stream_pinned", "complete")
        assert spark.conf.get(conf) == "200"
        assert terminated.wait(60)
    finally:
        spark.streams.removeListener(probe)
        spark.conf.set(conf, prev)
    assert parts and set(parts) == {spark.sparkContext.defaultParallelism}


def test_streaming_fold_matches_batch_replay(spark, log_dir):
    stream = sp.stream_game_events(spark, _glob(log_dir["dir"]))
    out = sp.run_to_completion(sp.streaming_fold(stream), "stream_fold", "update")
    # update mode appends each trigger's emission; the last emission
    # per room is its final state — pick it via max insertion batch:
    # memory sink has no batch column, so re-aggregate: last emission
    # per room contains the full state table, and players are keyed,
    # so take each (room,name)'s row from the final trigger by
    # replaying only player rows through latest-wins on emission order
    pdf = out.filter(F.col("entity") == "player").toPandas()
    # the memory sink preserves arrival order; keep the LAST row per key
    got = {
        (r.room, r.name): (r.x, r.y, r.alive)
        for r in pdf.drop_duplicates(subset=["room", "name"], keep="last").itertuples()
    }
    want = {
        (r.room, r.name): (r.x, r.y, r.alive)
        for r in players_state(replay_state(log_dir["batch_df"])).collect()
    }
    assert got == want


def test_streaming_fold_one_trigger_over_many_files(spark, log_dir, tmp_path):
    """One micro-batch over 36 files (above the 32-path listing
    threshold): the many-file batch path must fold to exactly the
    batch ``replay_state`` table, every entity included."""
    import glob
    from collections import Counter

    d = str(tmp_path / "many")
    log_dir["batch_df"].repartition(36).write.parquet(d)
    assert len(glob.glob(d + "/part-*")) == 36
    stream = sp.stream_game_events(spark, d, max_files_per_trigger=1000)
    q = (
        sp.streaming_fold(stream).writeStream.outputMode("update")
        .format("memory").queryName("stream_fold_many_files")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1
    assert batches[0]["numInputRows"] == log_dir["batch_df"].count()
    got = Counter(map(tuple, spark.table("stream_fold_many_files").collect()))
    want = Counter(map(tuple, replay_state(log_dir["batch_df"]).collect()))
    assert got == want


def test_streaming_dedup_within_watermark(spark, log_dir, tmp_path):
    # duplicate a file's rows → dropDuplicatesWithinWatermark removes
    # the redelivery; count matches the batch distinct count
    stream = sp.stream_game_events(spark, _glob(log_dir["dir"]), max_files_per_trigger=8)
    deduped = sp.deduped_stream(stream).groupBy("room").agg(F.count(F.lit(1)).alias("n"))
    out = sp.run_to_completion(deduped, "stream_dedup", "complete")
    want = {
        (r.room): r.n
        for r in log_dir["batch_df"].groupBy("room").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r.room: r.n for r in out.collect()}
    assert got == want


def test_checkpoint_restart_recovers_offsets_and_state(spark, tmp_path):
    """T4 effectively-once across RESTARTS: a streaming aggregation
    with a checkpoint is stopped, new data arrives, and a new query
    resumes from the same checkpoint — the second run must read ONLY
    the new files (offset recovery) while the final counts cover the
    whole log (state-store recovery)."""
    import pandas as pd
    from datetime import datetime

    from play_with_pulsar_spark.schema import GAME_EVENT_SCHEMA

    in_dir, ckpt, out = tmp_path / "in", str(tmp_path / "ckpt"), str(tmp_path / "out")
    in_dir.mkdir()
    base = datetime(2024, 3, 1)

    def batch(i, n):
        rows = [
            dict(offset=100 * i + j, room="R", ts=base, type="UserDeadEvent",
                 name=f"p{j}", avatar="f", comment="killer", x=1, y=1,
                 alive=False, list=None)
            for j in range(n)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows), GAME_EVENT_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(str(in_dir / f"batch{i}"))

    def run_once():
        stream = spark.readStream.schema(GAME_EVENT_SCHEMA).parquet(str(in_dir / "batch*"))
        counts = stream.filter(F.col("type") == "UserDeadEvent").groupBy(
            "room", F.col("comment").alias("killer")
        ).count()

        def sink(bdf, epoch_id):
            bdf.write.mode("overwrite").parquet(out)

        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in
                   (q.recentProgress or []) if p is not None)

    batch(0, 7)
    rows_first = run_once()
    assert rows_first == 7
    batch(1, 5)
    rows_second = run_once()
    # offset recovery: ONLY the new file was read on restart
    assert rows_second == 5
    # state recovery: final counts cover both files
    got = {(r.room, r.killer): r["count"] for r in spark.read.parquet(out).collect()}
    assert got == {("R", "killer"): 12}


def test_local_session_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """The engine's local session writes stream checkpoints through
    the FileSystem manager. Its atomic create must still refuse, when
    it closes, to replace a file that exists: that refusal is how an
    offset log detects a second writer."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "offsets" / "0"))
    fm = checkpointing.CheckpointFileManager.create(
        path.getParent(), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    fm.mkdirs(path.getParent())
    first = fm.createAtomic(path, False)
    first.write(1)
    first.close()
    second = fm.createAtomic(path, False)
    second.write(2)
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        second.close()
    kept = fm.open(path)
    assert kept.read() == 1  # the first writer's file is untouched
    kept.close()


def test_streaming_fold_resumes_from_its_checkpoint(spark, log_dir, tmp_path):
    """A checkpointed ``streaming_fold`` is stopped, more files arrive,
    and a new query resumes from the checkpoint. The restart must read
    only the new files, and each room's last emission must equal batch
    ``replay_state`` on every row: the state carried over is the
    rooms' pickled ``GameState`` blobs in the state store."""
    import shutil
    from collections import Counter

    in_dir, ckpt, out = tmp_path / "in", str(tmp_path / "ckpt"), str(tmp_path / "out")
    in_dir.mkdir()

    def sink(bdf, epoch_id):
        bdf.write.mode("overwrite").parquet(f"{out}/batch_id={epoch_id}")

    def run_once():
        stream = sp.stream_game_events(spark, _glob(str(in_dir)))
        q = (
            sp.streaming_fold(stream).writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    def copy_parts(*parts):
        for i in parts:
            shutil.copytree(f"{log_dir['dir']}/part{i}", in_dir / f"part{i}")
        return spark.read.parquet(*(str(in_dir / f"part{i}") for i in parts)).count()

    n_old = copy_parts(0, 1)
    assert run_once() == n_old
    n_new = copy_parts(2, 3)
    assert run_once() == n_new  # offsets resumed: only the new files

    emitted = spark.read.parquet(out)
    last = emitted.groupBy("room").agg(F.max("batch_id").alias("batch_id"))
    final = emitted.join(last, ["room", "batch_id"]).select(*STATE_SCHEMA.fieldNames())
    got = Counter(map(tuple, final.collect()))
    want = Counter(map(tuple, replay_state(log_dir["batch_df"]).collect()))
    assert got == want
