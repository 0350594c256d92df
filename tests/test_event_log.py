"""Ingestion-path tests: offset assignment, schema-validated JSON
codec round-trip, partitioned log write/read, paced replay order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from play_with_pulsar_spark.operators.replay import paced_replay
from play_with_pulsar_spark.sources import event_log as el
from play_with_pulsar_spark.sources.fixtures import game_event_log


@pytest.fixture(scope="module")
def log(spark):
    df = game_event_log(spark, n_rooms=2, events_per_room=400, seed=42).cache()
    yield df
    df.unpersist()


def test_offset_assignment_gapless(spark, log):
    batch = log.drop("offset")
    assigned = el.assign_offsets(batch, order_cols=("ts",))
    per_room = (
        assigned.groupBy("room")
        .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"),
             F.count(F.lit(1)).alias("n"), F.countDistinct("offset").alias("d"))
        .collect()
    )
    for r in per_room:
        assert r.lo == 0 and r.hi == r.n - 1 and r.d == r.n


def test_offset_append_resumes_from_base(spark, log):
    first = log.filter(F.col("offset") < 100).drop("offset")
    second = log.filter((F.col("offset") >= 100) & (F.col("offset") < 150)).drop("offset")
    base = el.assign_offsets(first, order_cols=("ts",))
    appended = el.assign_offsets(second, base_offsets=el.current_offsets(base), order_cols=("ts",))
    lo = appended.groupBy("room").agg(F.min("offset").alias("lo")).collect()
    assert all(r.lo == 100 for r in lo)


def test_offset_assignment_tolerates_map_columns(spark):
    """The deterministic tiebreaker hashes only hashable columns —
    a MapType column (xxhash64-incompatible) must not break the
    generic path (ADVICE r2), and offsets stay gapless."""
    batch = spark.createDataFrame(
        [("r1", i, {"k": f"v{i}"}) for i in range(10)],
        "room string, ts long, props map<string,string>",
    )
    assigned = el.assign_offsets(batch, order_cols=("ts",))
    offs = sorted(r.offset for r in assigned.collect())
    assert offs == list(range(10))
    # a batch that is ONLY maps beyond the keys still raises clearly
    only_map = spark.createDataFrame(
        [({"a": "b"},)], "m map<string,string>"
    )
    with pytest.raises(ValueError):
        el.assign_offsets(only_map, room_col="m", order_cols=("m",))


def test_wire_codec_roundtrip(spark, log):
    wire = el.to_wire(log)
    assert "payload" in wire.columns and "type" not in wire.columns
    back = el.parse_envelope(wire)
    orig = log.select("room", "offset", "type", "name", "x", "y").orderBy("room", "offset")
    rt = back.select("room", "offset", "type", "name", "x", "y").orderBy("room", "offset")
    assert orig.collect() == rt.collect()


def test_parse_envelope_failfast_rejects_garbage(spark):
    bad = spark.createDataFrame([(1, '{"type": "UserMoveEvent", "x": "NOT_AN_INT"}',)],
                                "id long, payload string")
    with pytest.raises(Exception):
        el.parse_envelope(bad, mode="FAILFAST").collect()
    # PERMISSIVE quarantines instead
    rows = el.parse_envelope(bad, mode="PERMISSIVE").collect()
    assert len(rows) == 1


def test_partitioned_log_roundtrip(spark, log, tmp_path):
    path = str(tmp_path / "log")
    el.write_event_log(log, path, mode="overwrite")
    back = el.read_event_log(spark, path)
    assert back.count() == log.count()
    # partition pruning: a room filter must scan only that directory
    from play_with_pulsar_spark import plans

    one = back.filter(F.col("room") == "room-0000")
    assert "room-0000" in plans.formatted_plan(one) or one.count() == 400


def test_opening_many_room_log_runs_no_listing_job(spark, tmp_path):
    """Opening a log with more than 32 room directories lists them on
    the driver: local mode must not pay a parallel-listing job (its
    tasks would run in the same JVM anyway)."""
    path = str(tmp_path / "log")
    el.write_event_log(
        game_event_log(spark, n_rooms=40, events_per_room=10, seed=7), path
    )
    sc = spark.sparkContext
    group = "pwp-test-open-many-room-log"
    sc.setJobGroup(group, "open a 40-room event log")
    try:
        el.read_event_log(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_paced_replay_order(spark, log):
    offsets = [r.offset for r in paced_replay(log, "room-0001", pace_ms=0)]
    assert offsets == sorted(offsets) and len(offsets) == 400


# --- S8 schema evolution (docs/en/game5-schema.md:39-67; SURVEY §1.3) ---


def test_schema_evolution_new_field_with_default(spark, tmp_path):
    """Old writers lack the new field; Parquet merge + coalesce fill
    gives every row the declared default (the `comment` pattern,
    pulsar.go:30-34)."""
    p = tmp_path / "evolog"
    v1 = spark.createDataFrame([(0, "a", "UserJoinEvent")],
                               "offset long, room string, type string")
    v1.write.parquet(str(p / "gen=1"))
    v2 = spark.createDataFrame([(1, "a", "UserMoveEvent", "hello")],
                               "offset long, room string, type string, comment string")
    v2.write.parquet(str(p / "gen=2"))
    got = el.read_evolved_log(spark, str(p), defaults={"comment": ""})
    rows = {r.offset: r.comment for r in got.collect()}
    assert rows == {0: "", 1: "hello"}


def test_schema_evolution_removed_field_still_readable(spark, tmp_path):
    """A field the NEWER writer dropped merges as null; the default
    fill applies to the new generation's rows."""
    p = tmp_path / "evolog2"
    v1 = spark.createDataFrame([(0, "a", "x")], "offset long, room string, extra string")
    v1.write.parquet(str(p / "gen=1"))
    v2 = spark.createDataFrame([(1, "a")], "offset long, room string")
    v2.write.parquet(str(p / "gen=2"))
    got = el.read_evolved_log(spark, str(p), defaults={"extra": "<none>"})
    rows = {r.offset: r.extra for r in got.collect()}
    assert rows == {0: "x", 1: "<none>"}


def test_writer_compat_rejects_type_change():
    from pyspark.sql.types import StringType, StructField, StructType

    bad = StructType(
        [StructField(f.name, StringType() if f.name == "x" else f.dataType, True)
         for f in el.GAME_EVENT_SCHEMA.fields]
    )
    with pytest.raises(el.SchemaIncompatibleError, match="'x'"):
        el.check_writer_compat(bad)


def test_writer_compat_rejects_missing_required():
    from pyspark.sql.types import StructType

    required = [f.name for f in el.GAME_EVENT_SCHEMA.fields if not f.nullable]
    assert required, "envelope declares at least one required field"
    bad = StructType([f for f in el.GAME_EVENT_SCHEMA.fields if f.name != required[0]])
    with pytest.raises(el.SchemaIncompatibleError, match=required[0]):
        el.check_writer_compat(bad)


def test_writer_compat_allows_omitted_nullable_and_added_fields():
    from pyspark.sql.types import StringType, StructField, StructType

    fields = [f for f in el.GAME_EVENT_SCHEMA.fields if f.name != "comment"]
    fields.append(StructField("brand_new", StringType(), True))
    el.check_writer_compat(StructType(fields))  # must not raise


def test_failfast_rejects_malformed_payload(spark):
    raw = spark.createDataFrame([("r", '{"type": not-json',)], "room string, payload string")
    with pytest.raises(Exception):
        el.parse_envelope(raw, mode="FAILFAST").collect()
    # PERMISSIVE quarantines instead
    out = el.parse_envelope(raw, mode="PERMISSIVE").collect()
    assert len(out) == 1 and out[0].type is None


def test_event_log_orc_round_trip_equals_parquet(spark, tmp_path):
    """S1/S3 second source format: the room-partitioned log written as
    ORC round-trips identically to parquet — same rows, same fold."""
    from play_with_pulsar_spark.operators import replay
    from play_with_pulsar_spark.sources.event_log import (
        read_event_log,
        write_event_log,
    )
    from play_with_pulsar_spark.sources.fixtures import game_event_log

    log = game_event_log(spark, n_rooms=4, events_per_room=200, seed=3)
    write_event_log(log, str(tmp_path / "pq"), mode="overwrite")
    write_event_log(log, str(tmp_path / "orc"), mode="overwrite", format="orc")
    a = read_event_log(spark, str(tmp_path / "pq"))
    b = read_event_log(spark, str(tmp_path / "orc"), format="orc")
    cols = sorted(a.columns)
    ra = sorted((repr(tuple(r)) for r in a.select(*cols).collect()))
    rb = sorted((repr(tuple(r)) for r in b.select(*cols).collect()))
    assert ra == rb
    fa = sorted(map(tuple, replay.replay_state_grouped(a).collect()))
    fb = sorted(map(tuple, replay.replay_state_grouped(b).collect()))
    assert fa == fb
