"""The declared query registry — the engine's public query surface.

Every operator from SURVEY.md §2 is declared here as a named query
over the driver fixture tables (TESTDATA.md), together with the ANSI
SQL its DuckDB oracle runs. The driver executes both sides at sf0.01
and compares row-count + schema + order-insensitive value hash;
``tests/test_oracle_parity.py`` runs the same comparison locally.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing).

Mapping of the reference's event-log semantics onto the driver's
``events`` fixture follows FIXTURES.md §B: ``event_type`` filter ≈ P1,
``groupBy(user_id).count()`` ≈ A1, latest-per-user ≈ A3/S6. The
game-native forms of the same operators (over the game-event envelope
schema) are exercised by the synthesized-log queries (``game_*``) and
by the unit tests' own DuckDB comparisons.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators import compaction, pii, replay, scoreboard
from .operators.textops import oracle_html_extract_sql, oracle_html_main_content_sql
from .operators.urlops import oracle_url_screen_sql
from .schema import GRID_H, GRID_W
from .oracle import davg, dsum, sql_davg, sql_dsum
from .sources.tables import load_table, parquet_schema, read_parquet_cached

# Committed, seeded game-event-log fixture (FIXTURES.md §A1; generated
# by scripts/gen_fixtures.py). Game-native queries read it from both
# engines so the DuckDB oracle sees the identical table.
GAME_EVENTS_PATH = os.path.abspath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "fixtures", "game_events.parquet")
)

# Committed golden fold-state parquets (FIXTURES.md §A3; generated by
# scripts/gen_fold_golden.py with the PURE-PYTHON single-threaded fold
# over the same seeded workload). The fold itself is not
# SQL-expressible, but its RESULT is a table — the oracles read the
# independently materialized artifact, so a driver hash-pass proves
# the distributed Spark fold reproduces it exactly.
_FIXDIR = os.path.dirname(GAME_EVENTS_PATH)
FOLD_PLAYERS_GOLDEN = os.path.join(_FIXDIR, "fold_players_golden.parquet")
FOLD_PLAYERS_1500_GOLDEN = os.path.join(_FIXDIR, "fold_players_upto1500_golden.parquet")
FOLD_POS_PLAYERS_GOLDEN = os.path.join(_FIXDIR, "fold_pos_players_golden.parquet")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}

# DuckDB-side tokenizer/stopword fragments shared by the text oracles.
_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_STOPS = "('the','a','an','of','and','to','in','is','on','for')"


def register(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _prep(spark: SparkSession) -> None:
    """Session invariants the oracle comparison depends on, applied
    defensively because the driver owns the SparkSession."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from .session import ensure_workers_have_package

    ensure_workers_have_package(spark)


@contextmanager
def _scratch(spark: SparkSession, tag: str) -> Iterator[str]:
    """One scratch dir (``pwp_<tag>_…``) for a query that runs an
    incremental operator for real: ``_prep`` the session, yield the
    dir, remove it on the way out, raised or not. Whatever the query
    returns must not read the dir — ``_held`` materializes it."""
    _prep(spark)
    d = tempfile.mkdtemp(prefix=f"pwp_{tag}_")
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _thirds(op, frame: DataFrame, key: str = "doc_id"):
    """Feed ``frame`` to ``op`` as three micro-batches, ``key % 3 == k``
    for k = 0, 1, 2 in order (batch id k), and return ``op``."""
    for k in range(3):
        op.process_batch(frame.filter(F.col(key) % 3 == k), k)
    return op


def _held(df: DataFrame, schema: str) -> DataFrame:
    """``df``'s ``schema`` columns collected to the driver (a small
    result) and served back as ``schema``: the frame outlives the
    scratch dir ``df`` reads."""
    names = StructType.fromDDL(schema).names
    return df.sparkSession.createDataFrame(df.select(*names).collect(), schema)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    return load_table(spark, sf_dir, name)


def _cache_parts(sf_dir: str, name: str, row_bytes: int, target_mb: int = 32) -> int:
    """Partition count for a persisted per-row derivative of a fixture
    table, sized by BYTES (guide §2.2 "fewer, larger partitions"), not
    by spark.sql.shuffle.partitions: a 16-byte/doc signature table at
    sf0.1 is ~80 KB — spreading it over 32 cached partitions makes
    every downstream stage pay 32 task launches to read nothing, and
    the same table at 10¹⁰ docs is 160 GB — where this yields
    thousands of partitions. Row count from parquet footer metadata
    (no job)."""
    return max(1, math.ceil(_meta_rowcount(sf_dir, name) * row_bytes / (target_mb << 20)))


def _td(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` with the input-layout spread (round 13, guide
    §2.5): identical rows, but when the fixture's parquet layout caps
    the scan at fewer tasks than the session has cores (the driver
    fixtures are single-row-group files — a ONE-core scan under any
    ``local[N]``), the rows are hash-spread on doc_id across
    ``defaultParallelism`` before the kernel-heavy per-doc work.
    Identity on any input whose layout already splits (the 100 TB
    case). Only queries whose downstream is per-doc maps or exact
    int/decimal aggregation use this — see ``tables.spread_scan``."""
    from .sources.tables import spread_scan

    return spread_scan(
        _t(spark, sf_dir, "documents"), spark, f"{sf_dir}/documents.parquet"
    )


def _meta_rowcount(sf_dir: str, name: str) -> int:
    """Table row count from parquet FOOTER metadata — no Spark job, no
    data scan (O(files) footer reads on the driver). This is the
    catalog-statistics stand-in: on a real deployment the number comes
    from the metastore / Delta log / the curator's maintained count
    tier, never from a `df.count()` job — an exact count over a 100 TB
    table is a full job, and sizing decisions (LSH geometry, broadcast
    thresholds) only need the order of magnitude. Replaces the one
    eager action the round-7 verdict flagged (`emb.count()` in
    dedup_embedding_lsh_auto)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


# =====================================================================
# Scoreboard family (SURVEY §2.3 A1-A5, §2.2 P1-P3, §2.5 W2-W3) on the
# driver `events` fixture.
# =====================================================================


@register(
    "a1_scoreboard_kills",
    oracle="""
    SELECT user_id AS killer, count(*) AS kills
    FROM events
    WHERE event_type = 'purchase'
      AND user_id <> CAST(json_extract_string(props, '$.k') AS BIGINT)
    GROUP BY user_id
    """,
)
def a1_scoreboard_kills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + P1 + P2 + P3: the reference's production query shape
    (ScoreboardFunction.java:18-58) on the events fixture — type-tag
    filter, column-vs-column self-kill filter, grouped count.
    Plan: scan(filter pushed) → partial agg → single shuffle on key.
    """
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.filter(F.col("event_type") == "purchase")  # P1
        .filter(F.col("user_id") != k)  # P2
        .groupBy(F.col("user_id").alias("killer"))
        .agg(F.count(F.lit(1)).alias("kills"))  # A1
    )


@register(
    "a3_latest_per_key",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value, ts AS last_ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def a3_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/S6: TableView latest-per-key (pulsar.go:160-167) as a
    max_by aggregation — partial-aggregates map-side, so the shuffle
    moves ≤ one row per key per partition (vs. every raw row for the
    window-function form the oracle uses)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )
    return compaction.latest_per_key(
        ev, key_cols=["user_id"], order_cols=["last_ts", "last_event_id"]
    )


@register(
    "a4_global_scoreboard",
    oracle=f"""
    SELECT user_id AS player, {sql_dsum("value")} AS total, count(*) AS n_events
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY user_id
    """,
)
def a4_global_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: cross-room per-player sum (docs/en/game7-connector.md:76-80)
    — exact-decimal sum so the distributed result is bitwise stable."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(F.col("user_id").alias("player"))
        .agg(dsum("value").alias("total"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "a5_ranked_scoreboard",
    oracle=f"""
    WITH totals AS (
      SELECT user_id AS player, {sql_dsum("value")} AS total
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT player, total, rank() OVER (ORDER BY total DESC) AS rnk
    FROM totals
    """,
)
def a5_ranked_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/W3: global ranking (docs/en/game1-introduce.md:53, req 5).
    The rank window runs over the aggregated result (one row per
    player), never over raw events — the only single-partition stage
    touches ~|players| rows."""
    ev = _t(spark, sf_dir, "events")
    totals = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("player"))
        .agg(dsum("value").alias("total"))
    )
    return scoreboard.ranked_scoreboard(totals, total_col="total")


@register(
    "w2_recency_top5",
    oracle="""
    WITH latest AS (
      SELECT user_id, ts AS last_ts, event_id AS last_event_id
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT user_id, last_ts, last_event_id
    FROM latest ORDER BY last_ts DESC, last_event_id DESC LIMIT 5
    """,
)
def w2_recency_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the LRU-of-5 scoreboard view (game.go:57,300-312) — the k
    most-recently-active keys."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("last_ts"), F.col("event_id").alias("last_event_id")
    )
    return compaction.recency_top_k(
        ev, key_cols=["user_id"], order_cols=["last_ts", "last_event_id"], k=5
    )


@register(
    "s4_latest_message",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
)
def s4_latest_message(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/O2: newest record of the log (map init for new joiners,
    pulsar.go:229-252) — TakeOrdered top-1, no global sort."""
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    return compaction.latest_message(ev, order_cols=["ts", "event_id"])


# =====================================================================
# Relational surface (SURVEY §2.12): TPC-H-shaped joins/aggs.
# =====================================================================


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity")} AS sum_qty,
           {sql_dsum("l_extendedprice")} AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {sql_davg("l_quantity")} AS avg_qty,
           {sql_davg("l_extendedprice")} AS avg_price,
           {sql_davg("l_discount")} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide grouped aggregation. One shuffle on the
    (tiny-cardinality) group key after map-side partial agg; the
    shipdate filter and 7-column projection reach the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity", n).alias("avg_qty"),
            davg("l_extendedprice", n).alias("avg_price"),
            davg("l_discount", n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k.
    customer is broadcast (small side); lineitem never shuffles for
    the join, only for the final group-by on l_orderkey."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(disc_price).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with three broadcastable dims.
    region/nation/supplier/customer all fit under the broadcast
    threshold at any realistic scale (dims grow ~linearly but stay
    tiny); only lineitem⋈orders is a shuffle join."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(su),
              (li.l_suppkey == su.s_suppkey) & (cu.c_nationkey == su.s_nationkey))
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(disc_price).alias("revenue"))
    )


# =====================================================================
# Windows over event time (SURVEY §2.6 T8) and analytic windows.
# =====================================================================


@register(
    "t8_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def t8_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: tumbling event-time window agg — the streaming-native
    grouping (identical plan under readStream + watermark)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "w3_order_rank_per_customer",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             lag(o_totalprice) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS prev_price
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def w3_order_rank_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows (rank + lag) with top-k-per-group filter —
    one shuffle on the partition key, sort within partitions only."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
        )
        .filter(F.col("rnk") <= 3)
    )


# =====================================================================
# Set operations / semi / anti joins (SURVEY §2.10, §2.12).
# =====================================================================


@register(
    "j_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (P6's key-membership predicate in relational
    form). Broadcast the distinct key set when it is small."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return cu.join(o, cu.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "j_parts_never_shipped",
    oracle="""
    SELECT p_partkey FROM part
    EXCEPT
    SELECT l_partkey AS p_partkey FROM lineitem
    """,
)
def j_parts_never_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set op (Catalyst rewrites to anti join + distinct)."""
    p = _t(spark, sf_dir, "part").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return p.subtract(li)  # EXCEPT DISTINCT


# =====================================================================
# JSON / scalar function surface (X-series, SURVEY §2.7).
# =====================================================================


@register(
    "x16_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
    """,
)
def x16_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16: JSON envelope decode (from_json/get_json_object ≈
    pulsar.go:248,269 payload decode) + predicate on the extracted
    field."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k"), "event_type").filter(F.col("k") > 80)


# =====================================================================
# Game-native operators over the committed event-log fixture — the
# reference's own schema and queries (SURVEY §1.1-A, §2.3, §2.4).
# =====================================================================


def _game_log(spark: SparkSession) -> DataFrame:
    _prep(spark)
    return read_parquet_cached(spark, GAME_EVENTS_PATH)


@register(
    "game_a1_room_scoreboard",
    oracle=f"""
    SELECT room, comment AS killer, count(*) AS kills
    FROM read_parquet('{GAME_EVENTS_PATH}')
    WHERE "type" = 'UserDeadEvent' AND "name" <> comment
    GROUP BY room, comment
    """,
)
def game_a1_room_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference production query on the reference's own schema:
    kills per (room, killer) — ScoreboardFunction.java:18-58."""
    return scoreboard.kill_counts(_game_log(spark))


@register(
    "game_a4a5_global_rank",
    oracle=f"""
    WITH per_room AS (
      SELECT room, comment AS killer, count(*) AS kills
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent' AND "name" <> comment
      GROUP BY room, comment
    ), totals AS (
      SELECT killer AS player, CAST(sum(kills) AS BIGINT) AS total
      FROM per_room GROUP BY killer
    )
    SELECT player, total, rank() OVER (ORDER BY total DESC) AS rnk FROM totals
    """,
)
def game_a4a5_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5: cross-room player totals + global rank (the Redis-sink
    + Lua-sum pipeline of docs/en/game7-connector.md:62-80 collapsed
    into two aggregations)."""
    per_room = scoreboard.kill_counts(_game_log(spark))
    totals = scoreboard.global_scoreboard(per_room)
    return scoreboard.ranked_scoreboard(totals)


@register(
    "game_p4_position_history",
    oracle=f"""
    SELECT room, "name", x, y, ts, n_updates FROM (
      SELECT room, "name", x, y, ts,
             row_number() OVER (PARTITION BY room, "name" ORDER BY "offset" DESC) AS rn,
             count(*) OVER (PARTITION BY room, "name") AS n_updates
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" IN ('UserMoveEvent','UserJoinEvent','UserReviveEvent')
    ) WHERE rn = 1
    """,
)
def game_p4_position_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The guard-free SQL fast path of the fold (SURVEY §2.4 batch
    note): last position-bearing event per (room, player) via max_by —
    an aggregation, not a window, so it partial-aggregates map-side."""
    return replay.player_position_history(_game_log(spark))


@register(
    "game_x3_obstacle_decode",
    oracle=f"""
    WITH latest AS (
      SELECT room, "list" AS lst
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" IN ('UserJoinEvent','UpdateMapEvent')
      QUALIFY row_number() OVER (PARTITION BY room ORDER BY "offset" DESC) = 1
    ), codes AS (
      SELECT room, unnest(lst) AS code FROM latest
    )
    SELECT room,
           CAST(abs(code) % 30 AS INT) AS x,
           CAST(abs(code) // 30 AS INT) AS y,
           code < 0 AS destructible
    FROM codes
    """,
)
def game_x3_obstacle_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + X1/X2/X3: latest map snapshot per room (max_by), exploded
    from the sign-encoded obstacle list (utils.go:87-93 encodeXY,
    event.go:227-251 decode) into an (x, y, destructible) table."""
    log = _game_log(spark).filter(F.col("type").isin("UserJoinEvent", "UpdateMapEvent"))
    latest = compaction.latest_per_key(
        log, key_cols=["room"], order_cols=["offset"], payload_cols=["offset", "list"]
    )
    code = F.abs(F.col("code"))
    return latest.select("room", F.explode("list").alias("code")).select(
        "room",
        F.pmod(code, F.lit(30)).cast("int").alias("x"),
        F.floor(code / 30).cast("int").alias("y"),
        (F.col("code") < 0).alias("destructible"),
    )


@register(
    "game_s4_latest_event_per_room",
    oracle=f"""
    SELECT room, "offset" AS last_offset, "type" AS last_type,
           "name" AS last_name, ts AS last_ts
    FROM read_parquet('{GAME_EVENTS_PATH}')
    QUALIFY row_number() OVER (PARTITION BY room ORDER BY "offset" DESC) = 1
    """,
)
def game_s4_latest_event_per_room(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 per room: the latest-message point-read generalized to the
    partitioned log (pulsar.go:229-252)."""
    log = _game_log(spark).select(
        "room",
        F.col("offset").alias("last_offset"),
        F.col("type").alias("last_type"),
        F.col("name").alias("last_name"),
        F.col("ts").alias("last_ts"),
    )
    return compaction.latest_per_key(log, key_cols=["room"], order_cols=["last_offset"])


SCORE_CHANGELOG_PATH = GAME_EVENTS_PATH.replace("game_events", "score_changelog")


def _scores(chg: DataFrame) -> DataFrame:
    """The score changelog as (room, player, score, last_offset): the
    record ``key`` is the player, and the string ``value`` is cast
    back to a number (the reference's Redis ``tonumber``)."""
    return chg.select(
        "room",
        F.col("key").alias("player"),
        F.col("value").cast("bigint").alias("score"),
        F.col("offset").alias("last_offset"),
    )


@register(
    "chg_s6_tableview",
    oracle=f"""
    SELECT room, "key" AS player,
           CAST("value" AS BIGINT) AS score,
           "offset" AS last_offset
    FROM read_parquet('{SCORE_CHANGELOG_PATH}')
    QUALIFY row_number() OVER (PARTITION BY room, "key"
                               ORDER BY "offset" DESC) = 1
    """,
)
def chg_s6_tableview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A3 + X11 on the score-changelog fixture (FIXTURES §A2): the
    TableView materialization — latest string-encoded running total
    per (room, player), cast back to a number (the reference's Redis
    ``tonumber``, docs/en/game7-connector.md:76-80)."""
    _prep(spark)
    chg = _scores(read_parquet_cached(spark, SCORE_CHANGELOG_PATH))
    return compaction.latest_per_key(
        chg, key_cols=["room", "player"], order_cols=["last_offset"]
    )


@register(
    "stream_s6_tableview",
    oracle=f"""
    SELECT room, "key" AS player,
           CAST("value" AS BIGINT) AS score,
           "offset" AS last_offset
    FROM read_parquet('{SCORE_CHANGELOG_PATH}')
    QUALIFY row_number() OVER (PARTITION BY room, "key"
                               ORDER BY "offset" DESC) = 1
    """,
)
def stream_s6_tableview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 TableView as a REAL streaming query: readStream over the
    score changelog → complete-mode max_by latest-per-key → memory
    sink; the final compacted table hash-matches the same oracle as
    the batch form (pulsar.go:160-167's live subscription semantics,
    driver-verified streaming == batch)."""

    def compacted(stream: DataFrame) -> DataFrame:
        return compaction.latest_per_key(
            _scores(stream), key_cols=["room", "player"], order_cols=["last_offset"]
        )

    chg_schema = "offset bigint, room string, ts timestamp, key string, value string"
    return _run_streamed_fixture(
        spark, SCORE_CHANGELOG_PATH, chg_schema, compacted, "stream_s6"
    )


@register(
    "chg_a4_global_sum",
    oracle=f"""
    WITH latest AS (
      SELECT room, "key" AS player, CAST("value" AS BIGINT) AS score
      FROM read_parquet('{SCORE_CHANGELOG_PATH}')
      QUALIFY row_number() OVER (PARTITION BY room, "key"
                                 ORDER BY "offset" DESC) = 1
    )
    SELECT player, CAST(sum(score) AS BIGINT) AS total,
           count(*) AS n_rooms
    FROM latest GROUP BY player
    """,
)
def chg_a4_global_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 via the connector-export path: compact the changelog to
    latest-per-(room,player), then sum across rooms — the two-level
    aggregation that replaces the Redis key-scan + Lua sum."""
    _prep(spark)
    chg = _scores(read_parquet_cached(spark, SCORE_CHANGELOG_PATH))
    latest = compaction.latest_per_key(
        chg, key_cols=["room", "player"], order_cols=["last_offset"], payload_cols=["score"]
    )
    return latest.groupBy("player").agg(
        F.sum("score").alias("total"), F.count(F.lit(1)).alias("n_rooms")
    )


@register(
    "chg_w2_lru_top5",
    oracle=f"""
    WITH latest AS (
      SELECT room, "key" AS player, "offset" AS last_offset,
             CAST("value" AS BIGINT) AS score
      FROM read_parquet('{SCORE_CHANGELOG_PATH}')
      QUALIFY row_number() OVER (PARTITION BY room, "key"
                                 ORDER BY "offset" DESC) = 1
    )
    SELECT room, player, score, last_offset FROM (
      SELECT *, row_number() OVER (PARTITION BY room
                                   ORDER BY last_offset DESC) AS rn
      FROM latest
    ) WHERE rn <= 5
    """,
)
def chg_w2_lru_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the scoreboard's LRU-of-5 view per room — the 5 most
    recently UPDATED players (recency top-k, not score top-k;
    game.go:57,300-312)."""
    _prep(spark)
    chg = _scores(read_parquet_cached(spark, SCORE_CHANGELOG_PATH))
    latest = compaction.latest_per_key(
        chg, key_cols=["room", "player"], order_cols=["last_offset"],
        payload_cols=["score", "last_offset"],
    )
    w = Window.partitionBy("room").orderBy(F.col("last_offset").desc())
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("room", "player", "score", "last_offset")
    )


@register(
    "j2_kill_attribution",
    oracle=f"""
    WITH deaths AS (
      SELECT room, "offset" AS doff, epoch_us(ts) AS dus,
             "name" AS victim, comment AS recorded_killer, x, y
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent'
    ), explodes AS (
      SELECT room, "offset" AS eoff, epoch_us(ts) AS eus,
             "name" AS bomb, string_split(("name"), '-')[1] AS owner,
             x AS bx, y AS by
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'ExplodeEvent'
    ), hits AS (
      SELECT d.room, d.doff, d.victim, d.recorded_killer,
             e.owner, e.eoff, e.eus
      FROM deaths d JOIN explodes e
        ON d.room = e.room
       AND ((d.x = e.bx AND abs(d.y - e.by) <= 6)
            OR (d.y = e.by AND abs(d.x - e.bx) <= 6))
       AND e.eus <= d.dus AND d.dus - e.eus < 2000000
    )
    SELECT room, doff, victim, recorded_killer, owner AS attributed_killer
    FROM hits
    QUALIFY row_number() OVER (PARTITION BY room, doff
                               ORDER BY eus DESC, eoff DESC) = 1
    """,
)
def j2_kill_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the kill-attribution interval join (game.go:139-147 made
    relational): each death matched to the most recent explosion whose
    unobstructed flame footprint covers the death cell within the 2 s
    flame window. Spark side: footprint exploded to cells → pure
    EQUI-join on (room, x, y) + time-range filter → max_by — the
    shape that shuffles on cell keys instead of nested-looping the
    theta predicate (the oracle uses the equivalent theta form)."""
    from .functions import encoding as X

    _prep(spark)
    log = _game_log(spark)
    deaths = log.filter(F.col("type") == "UserDeadEvent").select(
        "room",
        F.col("offset").alias("doff"),
        # fixture ts is TIMESTAMP_NTZ; UTC session makes the cast lossless
        F.unix_micros(F.col("ts").cast("timestamp")).alias("dus"),
        F.col("name").alias("victim"),
        F.col("comment").alias("recorded_killer"),
        "x",
        "y",
    )
    explodes = log.filter(F.col("type") == "ExplodeEvent").select(
        "room",
        F.col("offset").alias("eoff"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("eus"),
        X.bomb_owner(F.col("name")).alias("owner"),
        F.explode(X.flame_cells(F.col("x"), F.col("y"), 6)).alias("cell"),
    ).select("room", "eoff", "eus", "owner",
             F.col("cell.x").alias("x"), F.col("cell.y").alias("y"))
    hits = deaths.join(explodes, ["room", "x", "y"]).filter(
        (F.col("eus") <= F.col("dus")) & (F.col("dus") - F.col("eus") < 2_000_000)
    )
    return (
        hits.groupBy("room", "doff", "victim", "recorded_killer")
        .agg(F.max_by("owner", F.struct("eus", "eoff")).alias("attributed_killer"))
    )


def _run_streamed_fixture(spark, fixture_path, schema, transform, tag):
    """Shared harness for the driver-verified streaming queries: link
    the fixture into a temp dir (the file source wants a directory),
    stream → transform → complete-mode memory sink, and REMOVE the
    temp dir once the availableNow run finishes (the returned
    DataFrame reads the memory sink, not the files). The memory-sink
    table itself lives until the session ends — it holds the result
    the driver collects."""
    import uuid

    from .streaming.pipeline import run_to_completion

    with _scratch(spark, tag) as d:
        os.symlink(fixture_path, os.path.join(d, os.path.basename(fixture_path)))
        stream = spark.readStream.schema(schema).parquet(d)
        name = f"{tag}_{uuid.uuid4().hex[:8]}"
        return run_to_completion(transform(stream), name, "complete")


@register(
    "stream_a1_scoreboard",
    oracle=f"""
    SELECT room, comment AS killer, count(*) AS kills
    FROM read_parquet('{GAME_EVENTS_PATH}')
    WHERE "type" = 'UserDeadEvent' AND "name" <> comment
    GROUP BY room, comment
    """,
)
def stream_a1_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 executed as a REAL streaming query (readStream → stateful
    grouped count → availableNow to a memory sink) whose final state
    hash-matches the same DuckDB oracle as the batch form — streaming
    == batch, verified by the driver itself."""
    from .schema import GAME_EVENT_SCHEMA
    from .streaming.pipeline import streaming_kill_counts

    return _run_streamed_fixture(
        spark, GAME_EVENTS_PATH, GAME_EVENT_SCHEMA, streaming_kill_counts, "stream_a1"
    )


@register(
    "pipeline_curate_training_data",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, lang, {_TOKS} AS t FROM documents
    ), quality AS (
      SELECT doc_id, text, lang,
             CAST(len(t) AS BIGINT) AS n_tokens
      FROM toks
      WHERE len(t) >= 30
        AND CAST(len(list_filter(t, x -> x IN {_STOPS})) AS DOUBLE) / len(t) < 0.5
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id
    ), dup_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), dups AS (
      SELECT DISTINCT id_b AS doc_id
      FROM dup_pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    )
    SELECT q.doc_id, q.lang, q.n_tokens, e.label
    FROM quality q
    JOIN embeddings e ON q.doc_id = e.vec_id
    WHERE q.doc_id NOT IN (SELECT doc_id FROM dups)
    """,
)
def pipeline_curate_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation — the composition the engine
    exists for: quality filter (length + stopword density) → exact
    near-dup removal (keep the lower doc_id of each pair) → join to
    the embedding table. Every stage is one of the declared operators;
    the whole pipeline is a single Catalyst plan (filters pushed,
    dedup anti-join, broadcast embedding join)."""
    from .operators import dedup, textops

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    quality = docs.select(
        "doc_id", "lang",
        textops.token_count("text").alias("n_tokens"),
        textops.stopword_ratio("text").alias("stop_ratio"),
    ).filter((F.col("n_tokens") >= 30) & (F.col("stop_ratio") < 0.5))
    dup_ids = (
        dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        quality.join(dup_ids, "doc_id", "left_anti")
        .join(emb.select(F.col("vec_id").alias("doc_id"), "label"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "label")
    )


@register(
    "game_survival_first_life",
    oracle=f"""
    WITH joins AS (
      SELECT room, "name", min(ts) AS first_join
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserJoinEvent' GROUP BY room, "name"
    ), deaths AS (
      SELECT room, "name", min(ts) AS first_death
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent' GROUP BY room, "name"
    )
    SELECT j.room, j."name" AS player,
           epoch_us(d.first_death) - epoch_us(j.first_join) AS first_life_us
    FROM joins j JOIN deaths d ON j.room = d.room AND j."name" = d."name"
    """,
)
def game_survival_first_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game analytics: first-life survival time per player (join→first
    death), microsecond-exact."""
    log = _game_log(spark)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    joins = (
        log.filter(F.col("type") == "UserJoinEvent")
        .groupBy("room", F.col("name").alias("player"))
        .agg(F.min(us).alias("first_join"))
    )
    deaths = (
        log.filter(F.col("type") == "UserDeadEvent")
        .groupBy("room", F.col("name").alias("player"))
        .agg(F.min(us).alias("first_death"))
    )
    return joins.join(deaths, ["room", "player"]).select(
        "room", "player", (F.col("first_death") - F.col("first_join")).alias("first_life_us")
    )


@register(
    "game_bomb_effectiveness",
    oracle=f"""
    WITH bombs AS (
      SELECT room, string_split("name", '-')[1] AS player, count(*) AS bombs_set
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'SetBombEvent' GROUP BY 1, 2
    ), kills AS (
      SELECT room, comment AS player, count(*) AS kills
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent' AND "name" <> comment GROUP BY 1, 2
    )
    SELECT b.room, b.player, b.bombs_set,
           coalesce(k.kills, 0) AS kills,
           CAST(coalesce(k.kills, 0) AS DOUBLE) / b.bombs_set AS kills_per_bomb
    FROM bombs b LEFT JOIN kills k ON b.room = k.room AND b.player = k.player
    WHERE b.player <> 'random'
    """,
)
def game_bomb_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game analytics: kills per bomb placed, per (room, player) —
    bomb ownership via X6 name parsing, outer join against the kill
    scoreboard."""
    from .functions import encoding as X

    log = _game_log(spark)
    bombs = (
        log.filter(F.col("type") == "SetBombEvent")
        .groupBy("room", X.bomb_owner(F.col("name")).alias("player"))
        .agg(F.count(F.lit(1)).alias("bombs_set"))
        .filter(F.col("player") != "random")
    )
    kills = (
        log.filter(F.col("type") == "UserDeadEvent")
        .filter(F.col("name") != F.col("comment"))
        .groupBy("room", F.col("comment").alias("player"))
        .agg(F.count(F.lit(1)).alias("kills"))
    )
    return bombs.join(kills, ["room", "player"], "left").select(
        "room",
        "player",
        "bombs_set",
        F.coalesce(F.col("kills"), F.lit(0)).alias("kills"),
        (F.coalesce(F.col("kills"), F.lit(0)).cast("double") / F.col("bombs_set")).alias(
            "kills_per_bomb"
        ),
    )


@register(
    "game_room_activity_windows",
    oracle=f"""
    SELECT room, time_bucket(INTERVAL '1 minute', ts) AS window_start,
           count(*) AS n_events,
           count(DISTINCT "name") AS n_actors
    FROM read_parquet('{GAME_EVENTS_PATH}')
    WHERE "name" IS NOT NULL
    GROUP BY room, window_start
    """,
)
def game_room_activity_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game analytics: per-room per-minute activity (T8 over the game
    log): event volume + distinct active entities."""
    log = _game_log(spark).filter(F.col("name").isNotNull())
    return (
        log.groupBy("room", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("name").alias("n_actors"),
        )
        .select("room", F.col("w.start").alias("window_start"), "n_events", "n_actors")
    )


@register(
    "game_movement_heatmap",
    oracle=f"""
    SELECT room, x, y, count(*) AS visits, count(DISTINCT "name") AS players
    FROM read_parquet('{GAME_EVENTS_PATH}')
    WHERE "type" = 'UserMoveEvent'
      AND x >= 0 AND x < 30 AND y >= 0 AND y < 25
    GROUP BY room, x, y
    HAVING count(*) >= 3
    """,
)
def game_movement_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game analytics: per-cell movement density (the posToPlayers
    write stream aggregated spatially) — P5 bounds applied, hot cells
    only. One scan, one shuffle on (room, x, y)."""
    log = _game_log(spark)
    return (
        log.filter(F.col("type") == "UserMoveEvent")
        .filter(
            (F.col("x") >= 0) & (F.col("x") < GRID_W)
            & (F.col("y") >= 0) & (F.col("y") < GRID_H)
        )
        .groupBy("room", "x", "y")
        .agg(
            F.count(F.lit(1)).alias("visits"),
            F.countDistinct("name").alias("players"),
        )
        .filter(F.col("visits") >= 3)
    )


@register(
    "game_kd_ratio",
    oracle=f"""
    WITH deaths AS (
      SELECT room, "name" AS player, count(*) AS deaths
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent' GROUP BY room, "name"
    ), kills AS (
      SELECT room, comment AS player, count(*) AS kills
      FROM read_parquet('{GAME_EVENTS_PATH}')
      WHERE "type" = 'UserDeadEvent' AND "name" <> comment
      GROUP BY room, comment
    )
    SELECT coalesce(d.room, k.room) AS room,
           coalesce(d.player, k.player) AS player,
           coalesce(kills, 0) AS kills,
           coalesce(deaths, 0) AS deaths,
           round(CAST(coalesce(kills, 0) AS DOUBLE)
                 / greatest(coalesce(deaths, 0), 1), 6) AS kd
    FROM deaths d FULL OUTER JOIN kills k
      ON d.room = k.room AND d.player = k.player
    """,
)
def game_kd_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Game analytics: kill/death ratio per (room, player) — two
    branches of ONE scan full-outer-joined (players who only died and
    players who only killed both appear)."""
    log = _game_log(spark)
    dead = log.filter(F.col("type") == "UserDeadEvent")
    deaths = dead.groupBy("room", F.col("name").alias("player")).agg(
        F.count(F.lit(1)).alias("deaths")
    )
    kills = (
        dead.filter(F.col("name") != F.col("comment"))
        .groupBy("room", F.col("comment").alias("player"))
        .agg(F.count(F.lit(1)).alias("kills"))
    )
    return (
        deaths.join(kills, ["room", "player"], "full_outer")
        .select(
            "room",
            "player",
            F.coalesce(F.col("kills"), F.lit(0)).alias("kills"),
            F.coalesce(F.col("deaths"), F.lit(0)).alias("deaths"),
            F.round(
                F.coalesce(F.col("kills"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("deaths"), F.lit(0)), F.lit(1)),
                6,
            ).alias("kd"),
        )
    )


# --- the fold itself: the TRANSITIONS are non-SQL-expressible
# (order-dependent guards P5-P7), but the END STATE is a table. The
# oracles read committed golden parquets materialized by the
# pure-python single-threaded fold (scripts/gen_fold_golden.py), so
# the driver's hash gate checks the distributed Spark fold against an
# independently computed artifact. Transition-level exactness is
# additionally pinned by tests/test_replay_fold.py. ---


@register(
    "fold_players_state",
    oracle=f"SELECT room, name, x, y, alive FROM read_parquet('{FOLD_PLAYERS_GOLDEN}')",
)
def fold_players_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 replay fold, players table at end-of-log — order-dependent
    guards (P5-P7) make this unexpressible in one SQL pass; the oracle
    reads the committed pure-python golden instead."""
    state = replay.replay_state(_game_log(spark))
    return replay.players_state(state)


@register(
    "fold_pos_players",
    oracle=f"SELECT room, x, y, name, alive FROM read_parquet('{FOLD_POS_PLAYERS_GOLDEN}')",
)
def fold_pos_players(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posToPlayers (game.go:62): who is standing on cell (x,y) —
    position-keyed LWW map with reference collision/staleness
    semantics (event.go:47,80); oracle = committed pure-python golden."""
    state = replay.replay_state(_game_log(spark))
    return replay.pos_players_state(state)


@register(
    "fold_time_travel",
    oracle=f"SELECT room, name, x, y, alive FROM read_parquet('{FOLD_PLAYERS_1500_GOLDEN}')",
)
def fold_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 time-travel: state_at(room, k) for k=1500 — the watch-mode
    replay (watch.go:43-85) as a batch query; oracle = committed
    pure-python golden at the same offset cut."""
    state = replay.replay_state(_game_log(spark), upto_offset=1500)
    return replay.players_state(state)


@register(
    "fold_snapshot_maintained",
    oracle=f"SELECT room, name, x, y, alive FROM read_parquet('{FOLD_PLAYERS_1500_GOLDEN}')",
)
def fold_snapshot_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the snapshot table a STREAM maintains: the
    fixture log arrives as three offset-range files, one micro-batch
    each (``maxFilesPerTrigger=1`` under ``availableNow``), through
    ``pipeline.streaming_snapshots`` into a checkpointed parquet file
    sink (per-batch fold cost O(batch) — history is never re-folded;
    file boundaries deliberately mid-interval so the state store
    carries each room across batches), then ``state_at(1500)``
    resumes from the latest materialized snapshot ≤1500 and folds
    only the ≤500-event tail. Must equal the SAME committed
    pure-python golden as ``fold_time_travel`` — the stream-maintained
    table and the from-scratch replay are indistinguishable, under the
    driver's hash gate."""
    from .streaming.pipeline import start_pinned, streaming_snapshots

    log = _game_log(spark)
    with _scratch(spark, "snapview") as base:
        src, sink = os.path.join(base, "src"), os.path.join(base, "snaps")
        for k, (lo, hi) in enumerate([(0, 799), (800, 1399), (1400, 10**9)]):
            # one file per slice, so one slice per micro-batch
            log.filter(F.col("offset").between(lo, hi)).coalesce(1).write.parquet(
                f"{src}/f{k}"
            )
        stream = (
            spark.readStream.schema(log.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        writer = (
            streaming_snapshots(stream, every_k=500)
            .writeStream.format("parquet")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
        )
        start_pinned(writer, spark, sink).awaitTermination()
        return _held(
            replay.players_state(replay.state_at(log, spark.read.parquet(sink), 1500)),
            "room string, name string, x int, y int, alive boolean",
        )


# fold_scale_replay workload size — bench.py imports these to derive
# the events/s metric; keep the query and the metric in lockstep.
FOLD_SCALE_ROOMS = 32
FOLD_SCALE_EVENTS_PER_ROOM = 3000


FOLD_SCALE_GOLDEN = os.path.join(_FIXDIR, "fold_scale_replay_golden.parquet")
FOLD_XL_GOLDEN = os.path.join(_FIXDIR, "fold_scale_replay_xl_golden.parquet")


@register(
    "fold_scale_replay",
    oracle=f"SELECT room, entity, n FROM read_parquet('{FOLD_SCALE_GOLDEN}')",
)
def fold_scale_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-honest fold benchmark: generate a 32-room × 3000-event
    log distributed (mapInPandas over rooms — the generation IS part
    of the measured pipeline) and fold it. Rooms are the parallelism
    unit: 32 independent tasks, state bounded per room.

    Plan note (round 4): the generator emits a topic-per-room layout
    (one room per partition), so the fold uses the shuffle-free
    ``replay_state_grouped`` — generation, fold, and partial agg fuse
    into ONE stage; the only exchange left is the tiny final agg.
    Same workload as rounds 1-3 (32×3000, seed 7); the speedup is
    plan shape, not a smaller problem. Parity with the shuffled
    ``replay_state`` is pinned by test_replay_fold.py."""
    return _fold_scale(spark, FOLD_SCALE_ROOMS, FOLD_SCALE_EVENTS_PER_ROOM)


def _fold_scale(spark: SparkSession, n_rooms: int, events_per_room: int) -> DataFrame:
    """Generate an ``n_rooms`` × ``events_per_room`` log (seed 7),
    fold it with the shuffle-free grouped fold, count state rows per
    (room, entity)."""
    from .sources.fixtures import game_event_log

    _prep(spark)
    log = game_event_log(spark, n_rooms=n_rooms, events_per_room=events_per_room, seed=7)
    state = replay.replay_state_grouped(log)
    return state.groupBy("room", "entity").agg(F.count(F.lit(1)).alias("n"))


# XL fold workload (round 5) — the legacy 32×3000 entry is kept for
# series continuity, but at 96k events its wall time is dominated by
# the ~0.2 s Python-stage scheduling floor (96k / 0.2 s caps the
# METRIC at ~480k ev/s even for a zero-cost kernel). 32×12000 = 384k
# events amortizes the floor so fold_events_per_sec_xl tracks the
# kernel, not the scheduler.
FOLD_XL_ROOMS = 32
FOLD_XL_EVENTS_PER_ROOM = 12000


@register(
    "fold_scale_replay_xl",
    oracle=f"SELECT room, entity, n FROM read_parquet('{FOLD_XL_GOLDEN}')",
)
def fold_scale_replay_xl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fold benchmark at 4× the legacy event volume (384k events,
    same 32-room shape, seed 7): distributed generation + shuffle-free
    grouped fold + tiny final agg, one stage before the agg exchange.
    Exists so the tracked events/s number measures the fold kernel
    rather than the fixed per-stage floor (see constant note)."""
    return _fold_scale(spark, FOLD_XL_ROOMS, FOLD_XL_EVENTS_PER_ROOM)


FOLD_SUMMARY_GOLDEN = os.path.join(_FIXDIR, "fold_state_summary_golden.parquet")


@register(
    "fold_state_summary",
    oracle=f"SELECT room, entity, n FROM read_parquet('{FOLD_SUMMARY_GOLDEN}')",
)
def fold_state_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full materialized state (players+bombs+obstacles+flames)
    summarized per room — one fold, one shuffle; oracle = committed
    pure-python golden (round 6), covering all five state maps."""
    state = replay.replay_state(_game_log(spark))
    return state.groupBy("room", "entity").agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# LLM-data-pipeline surface (SURVEY §2.12 / BASELINE.json north star):
# text analysis, dedup, similarity search over documents/embeddings.
# =====================================================================

@register(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS mean_token_len,
           CAST(len(list_filter(toks, x -> x IN {_STOPS})) AS DOUBLE) / len(toks) AS stop_ratio,
           CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
           least(CAST(length(text) AS DOUBLE) / 400.0, 1.0) * 0.4
             + (1.0 - abs(CAST(len(list_filter(toks, x -> x IN {_STOPS})) AS DOUBLE) / len(toks) - 0.3)) * 0.3
             + (1.0 - least(abs(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) - 5.0) / 5.0, 1.0)) * 0.3
             AS quality,
           md5(text) AS fp
    FROM t
    """,
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting, quality scoring, fingerprinting
    — all JVM-side column expressions (whole-stage codegen; the scan
    is the only cost)."""
    from .operators import textops

    return textops.text_stats(_t(spark, sf_dir, "documents"))


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint; the
    shuffle carries one row per distinct fingerprint per partition."""
    from .operators import dedup

    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


# The crawl front door under the hash gate: both engines construct
# byte-identical JSONL lines from the documents table (the PII-plant
# pattern), Spark runs the REAL triage (from_json + reason taxonomy +
# canonical-survivor dedup), and the oracle replays the outcome from
# the known construction — every quarantined raw line byte-included
# in the hash.
_CRAWL_BASE_SQL = (
    "'{\"doc_id\": ' || doc_id || ', \"text\": \"' || text"
    " || '\", \"lang\": \"' || lang || '\", \"source\": \"' || source || '\"}'"
)
_CRAWL_MISS_SQL = (
    "'{\"doc_id\": ' || doc_id"
    " || ', \"lang\": \"' || lang || '\", \"source\": \"' || source || '\"}'"
)
_CRAWL_REUP_SQL = (
    "'{\"doc_id\": ' || doc_id"
    " || ', \"text\": \"REUP ' || doc_id || '\", \"lang\": \"xx\", \"source\": \"re\"}'"
)


@register(
    "crawl_triage_jsonl",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, lang, source,
             {_CRAWL_BASE_SQL} AS raw_ok,
             {_CRAWL_MISS_SQL} AS raw_miss,
             {_CRAWL_REUP_SQL} AS raw_reup
      FROM documents
    ), lines AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN '{{oops ' || raw_ok
                  WHEN doc_id % 17 = 0 THEN raw_miss
                  ELSE raw_ok END AS raw,
             CASE WHEN doc_id % 13 = 0 THEN 'unparseable'
                  WHEN doc_id % 17 = 0 THEN 'missing:text' END AS hard_reason,
             CASE WHEN doc_id % 13 = 0 OR doc_id % 17 = 0
                  THEN NULL ELSE text END AS text,
             lang, source
      FROM base
      UNION ALL
      SELECT doc_id, raw_reup AS raw, NULL AS hard_reason,
             'REUP ' || doc_id AS text, 'xx' AS lang, 're' AS source
      FROM base WHERE doc_id % 19 = 0
    ), ok AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY raw) AS rn
      FROM lines WHERE hard_reason IS NULL
    )
    SELECT 'clean' AS kind,
           CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang || '|' || source AS payload
    FROM ok WHERE rn = 1
    UNION ALL
    SELECT 'duplicate_id' AS kind, raw AS payload FROM ok WHERE rn > 1
    UNION ALL
    SELECT hard_reason AS kind, raw AS payload
    FROM lines WHERE hard_reason IS NOT NULL
    """,
)
def crawl_triage_jsonl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's messy-input front door under the driver's HASH gate
    (round 8): JSONL lines are PLANTED from the documents table —
    every 13th corrupted (unparseable), every 17th missing its
    required text field, every 19th re-uploaded with different
    content — and run through the REAL ``triage_jsonl``
    (PERMISSIVE ``from_json``, reason taxonomy, content-deterministic
    duplicate survivor). The oracle constructs the identical bytes
    and states the expected verdicts, so the hash covers the parse,
    every quarantined raw line, and the canonical-survivor rule —
    the accounting law (clean + quarantine == input) rides along
    because both unions enumerate every line exactly once."""
    from .sources.crawl import triage_jsonl

    docs = _t(spark, sf_dir, "documents")
    base = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
        F.lit(', "text": "'), F.col("text"),
        F.lit('", "lang": "'), F.col("lang"),
        F.lit('", "source": "'), F.col("source"), F.lit('"}'),
    )
    miss = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
        F.lit(', "lang": "'), F.col("lang"),
        F.lit('", "source": "'), F.col("source"), F.lit('"}'),
    )
    reup = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
        F.lit(', "text": "REUP '), F.col("doc_id").cast("string"),
        F.lit('", "lang": "xx", "source": "re"}'),
    )
    line = (
        F.when(F.col("doc_id") % 13 == 0, F.concat(F.lit("{oops "), base))
        .when(F.col("doc_id") % 17 == 0, miss)
        .otherwise(base)
    )
    lines = docs.select(line.alias("value")).unionByName(
        docs.filter(F.col("doc_id") % 19 == 0).select(reup.alias("value"))
    )
    clean, quarantine = triage_jsonl(lines)
    out_clean = clean.select(
        F.lit("clean").alias("kind"),
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), "text", "lang", "source"
        ).alias("payload"),
    )
    out_bad = quarantine.select(
        F.col("reason").alias("kind"), F.col("raw").alias("payload")
    )
    return out_clean.unionByName(out_bad)


# Deterministic HTML wrapper planted around the fixture text (both
# engines build identical bytes — the PII-plant pattern): a style
# block, a script block CONTAINING a bare '<', a comment, block tags,
# and entities including the &amp; double-decode trap.
_HTML_PLANT_SQL = (
    "'<html><head><style>p {color: red}</style>"
    "<script type=\"text/javascript\">var x = 1 < 2; link(\"a\");</script>"
    "</head><body><!-- nav\nboilerplate --><h1>Doc ' || doc_id || '</h1>"
    "<p>' || text || '</p><ul><li>lang: ' || lang || '</li></ul>"
    "<div>&amp;copy&nbsp;&lt;' || source || '&gt;</div></body></html>'"
)


def _html_plant_col() -> F.Column:
    return F.concat(
        F.lit(
            '<html><head><style>p {color: red}</style>'
            '<script type="text/javascript">var x = 1 < 2; link("a");</script>'
            "</head><body><!-- nav\nboilerplate --><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><ul><li>lang: "),
        F.col("lang"),
        F.lit("</li></ul><div>&amp;copy&nbsp;&lt;"),
        F.col("source"),
        F.lit("&gt;</div></body></html>"),
    )


@register(
    "text_html_extract",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_HTML_PLANT_SQL} AS html FROM documents
    )
    SELECT doc_id, {oracle_html_extract_sql('html')} AS extracted
    FROM planted
    """,
)
def text_html_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (round 8 — the crawl step upstream of
    every text screen; trafilatura/jusText class reduced to the
    Java-regex/RE2-agreeing subset): script/style/comment blocks
    dropped wholesale (including a bare ``<`` inside the script),
    block-level tags become spaces, remaining tags strip, the
    predefined entities decode (``&amp;`` last — the double-decode
    trap), whitespace collapses. One codegen projection riding the
    corpus scan; the oracle SQL is GENERATED from the same step/entity
    tables (``textops.oracle_html_extract_sql``) so the two engines
    cannot drift. The fixture has no natural HTML, so the wrapper is
    planted identically in both engines (the PII-plant pattern)."""
    from .operators import textops

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _html_plant_col().alias("html"))
    return planted.select(
        "doc_id", textops.html_extract("html").alias("extracted")
    )


# Deterministic planted C4-shaped pages (round 9): six candidate
# sentences sliced from the doc's own tokens (short docs lose
# sentences — the too-few-sentences rule fires data-dependently),
# navigation/CTA lines that fail terminal-punct / min-words, and
# cycling planted violations for the javascript / lorem-ipsum /
# curly-brace rules. Built from shared constants in BOTH engines.


def _c4_sent_sql(a: int) -> str:
    # DuckDB array_to_string returns NULL on an empty slice (the
    # round-8 html trap) — coalesce to '' to match Spark's array_join
    return (
        f"coalesce(array_to_string(({_TOKS})[{a}:{a + 5}], ' '), '') || '.'"
    )


_C4_PAGE_SQL = (
    f"{_c4_sent_sql(1)} || chr(10) || "
    "'home | about | contact' || chr(10) || "
    f"{_c4_sent_sql(7)} || chr(10) || "
    "'click here.' || chr(10) || "
    "CASE WHEN doc_id % 5 = 0 "
    "THEN 'please enable javascript to continue.' || chr(10) ELSE '' END || "
    "CASE WHEN doc_id % 7 = 0 "
    "THEN 'lorem ipsum dolor sit amet.' || chr(10) ELSE '' END || "
    "CASE WHEN doc_id % 11 = 0 "
    "THEN 'function f() { return 1; }' || chr(10) ELSE '' END || "
    f"{_c4_sent_sql(13)} || chr(10) || "
    f"{_c4_sent_sql(19)} || chr(10) || "
    f"{_c4_sent_sql(25)} || chr(10) || "
    f"{_c4_sent_sql(31)} || chr(10) || "
    # round-10 ADVICE plants: a CRLF-terminated sentence (split on
    # \n leaves the trailing \r) and a line padded with spaces —
    # both must survive the trimmed rules, fail the untrimmed ones
    f"{_c4_sent_sql(37)} || chr(13) || chr(10) || "
    "'  padded line with enough words.  '"
)


def _c4_page_col() -> F.Column:
    from .operators.textops import tokens as _tok

    t = _tok("text")

    def sent(a):
        return F.concat(F.array_join(F.slice(t, a, 6), " "), F.lit("."))

    did = F.col("doc_id")
    return F.concat(
        sent(1), F.lit("\nhome | about | contact\n"),
        sent(7), F.lit("\nclick here.\n"),
        F.when(
            did % 5 == 0,
            F.lit("please enable javascript to continue.\n"),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0, F.lit("lorem ipsum dolor sit amet.\n")
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0, F.lit("function f() { return 1; }\n")
        ).otherwise(F.lit("")),
        sent(13), F.lit("\n"), sent(19), F.lit("\n"),
        sent(25), F.lit("\n"), sent(31), F.lit("\n"),
        sent(37), F.lit("\r\n  padded line with enough words.  "),
    )


@register(
    "text_c4_line_filters",
    oracle=f"""
    WITH planted AS MATERIALIZED (
      SELECT doc_id, {_C4_PAGE_SQL} AS page FROM documents
    ), split AS (
      SELECT doc_id, page, string_split(page, chr(10)) AS lines
      FROM planted
    ), flt AS (
      SELECT doc_id, page, lines,
             list_filter(
               list_transform(lines, ln ->
                 regexp_replace(ln, '^\\s+|\\s+$', '', 'g')),
               ln ->
               regexp_matches(ln, '[.!?"]$')
               AND len(string_split_regex(ln, '\\s+')) >= 3
               AND NOT regexp_matches(lower(ln),
                                      '(^|\\s)javascript(\\s|$|[.!?])')
             ) AS kept
      FROM split
    ), verdict AS (
      SELECT doc_id,
             CAST(len(lines) AS INT) AS n_lines,
             CAST(len(kept) AS INT) AS n_kept,
             CASE WHEN contains(lower(page), 'lorem ipsum') THEN 'lorem-ipsum'
                  WHEN contains(page, '{{') THEN 'curly-brace'
                  WHEN len(kept) < 5 THEN 'too-few-sentences'
             END AS reject_reason,
             coalesce(array_to_string(kept, chr(10)), '') AS cleaned
      FROM flt
    )
    SELECT doc_id, n_lines, n_kept,
           reject_reason IS NULL AS page_kept, reject_reason, cleaned
    FROM verdict
    """,
)
def text_c4_line_filters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020 §2.2 — the
    most-cited web-corpus recipe; round 9): terminal-punctuation and
    min-words line keeps, the javascript line rule, and the
    lorem-ipsum / curly-brace / too-few-sentences page rejects, over
    planted pages whose sentences come from each doc's own tokens (so
    every rule fires data-dependently — short docs lose sentences to
    the min-sentences rule). One per-row codegen projection — split,
    filter, rejoin, no shuffle; completes the C4 pair with
    ``text_line_dedup`` (the §2.2 dedup half)."""
    from .operators import textops

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _c4_page_col().alias("page"))
    return textops.c4_line_filters(planted)


# Planted repetition pages for the Gopher suite: each doc becomes a
# page of 6-token lines from its own tokens, plus deterministic
# plants — a duplicated first line (doc_id%4), a repeated 12-token
# span (doc_id%6, drives the dup-{5..10}gram signals), and the first
# 2-gram phrase repeated 6× (doc_id%9, drives top_2gram_frac) — so
# every Table-A1 rule fires data-dependently on top of the fixture
# vocabulary's natural small-vocab repetition.
_GOPHER_REP_PAGE_SQL = """
    SELECT doc_id,
      array_to_string(
        list_transform(range(CAST(ceil(len(pt) / 6.0) AS BIGINT)),
                       i -> array_to_string(pt[i*6+1:i*6+6], ' '))
        || CASE WHEN doc_id % 4 = 0
                THEN [array_to_string(pt[1:6], ' ')]
                ELSE []::VARCHAR[] END
        || CASE WHEN doc_id % 6 = 0
                THEN [array_to_string(pt[1:12], ' ')]
                ELSE []::VARCHAR[] END
        || CASE WHEN doc_id % 9 = 0
                THEN [array_to_string(
                        list_transform(range(6),
                          j -> array_to_string(pt[1:2], ' ')), ' ')]
                ELSE []::VARCHAR[] END,
        chr(10)) AS page
    FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS pt
          FROM documents)
"""


def _gopher_rep_pages(docs: DataFrame) -> DataFrame:
    from .operators.textops import tokens as _tok

    # token array materialized FIRST (lambda-reevaluation trap —
    # transform lambdas re-run any expression they reference per
    # element, so the regex split must be behind a projection).
    base = docs.select("doc_id", _tok("text").alias("pt"))
    pt = F.col("pt")
    n_seg = F.ceil(F.size(pt) / F.lit(6.0)).cast("long")
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), n_seg - 1),
        lambda i: F.array_join(F.slice(pt, (i * 6 + 1).cast("int"), 6), " "),
    )
    empty = F.array().cast("array<string>")
    dup_line = F.when(
        F.col("doc_id") % 4 == 0, F.array(F.array_join(F.slice(pt, 1, 6), " "))
    ).otherwise(empty)
    span = F.when(
        F.col("doc_id") % 6 == 0, F.array(F.array_join(F.slice(pt, 1, 12), " "))
    ).otherwise(empty)
    phrase = F.array_join(
        F.array_repeat(F.array_join(F.slice(pt, 1, 2), " "), 6), " "
    )
    top = F.when(F.col("doc_id") % 9 == 0, F.array(phrase)).otherwise(empty)
    return base.select(
        "doc_id",
        F.array_join(F.concat(lines, dup_line, span, top), "\n").alias("page"),
    )


def _gopher_rep_sig_blocks(src: str = "pages") -> str:
    """CTE fragment (assumes a prior ``{src}(doc_id, page)`` CTE)
    computing the eleven Table-A1 repetition fractions into a ``sig``
    CTE — shared by the reporting oracle, the curator-screen pipeline
    oracle, and the FineWeb-recipe composition."""
    from .operators.textops import GOPHER_REP_RULES

    tops = "\n".join(
        f"    max(CASE WHEN n={n} THEN toppack END) AS tp{n}," for n in (2, 3, 4)
    )
    dups = "\n".join(
        f"    max(CASE WHEN n={n} THEN dupall END) AS d{n}," for n in range(5, 11)
    )
    top_fr = "\n".join(
        f"    CAST((coalesce(p.tp{n}, 0) // 100000)"
        f" * (coalesce(p.tp{n}, 0) % 100000) AS DOUBLE)"
        f" / CAST(t.n_chars AS DOUBLE) AS top_{n}gram_frac,"
        for n in (2, 3, 4)
    )
    dup_fr = "\n".join(
        f"    CAST(coalesce(p.d{n}, 0) AS DOUBLE)"
        f" / CAST(t.n_chars AS DOUBLE) AS dup_{n}gram_frac,"
        for n in range(5, 11)
    )
    return f"""base AS MATERIALIZED (
      SELECT doc_id,
        list_filter(
          list_transform(string_split(page, chr(10)),
                         ln -> regexp_replace(ln, '^\\s+|\\s+$', '', 'g')),
          ln -> ln <> '') AS lines,
        string_split_regex(trim(lower(page)), '\\s+') AS t
      FROM {src}),
    tot AS (
      SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(t) AS BIGINT) AS n_words,
             greatest(coalesce(
               list_sum(list_transform(lines, x -> len(x))), 0), 1)
               AS line_chars,
             greatest(len(array_to_string(t, ' ')), 1) AS n_chars
      FROM base),
    lc AS (SELECT doc_id, ln AS v, count(*) AS c, max(len(ln)) AS l
           FROM base, UNNEST(lines) AS ul(ln) GROUP BY 1, 2),
    lstat AS (SELECT doc_id, sum(c - 1) AS dup_occ,
                     sum((c - 1) * l) AS dup_occ_chars
              FROM lc GROUP BY 1),
    grams AS (SELECT doc_id, n, array_to_string(t[i+1:i+n], ' ') AS g
              FROM base,
                   UNNEST([2,3,4,5,6,7,8,9,10]) AS ns(n),
                   UNNEST(range(greatest(len(t) - n + 1, 0))) AS ii(i)),
    gc AS (SELECT doc_id, n, g, count(*) AS c, max(len(g)) AS l
           FROM grams GROUP BY 1, 2, 3),
    gstat AS (SELECT doc_id, n, max(c * 100000 + least(l, 99999)) AS toppack,
                     coalesce(sum(CASE WHEN c >= 2 THEN c * l END), 0)
                       AS dupall
              FROM gc GROUP BY 1, 2),
    piv AS (SELECT doc_id,
{tops}
{dups}
      count(*) AS _n FROM gstat GROUP BY 1),
    sig AS (
      SELECT t.doc_id, t.n_lines, t.n_words,
        CAST(coalesce(ls.dup_occ, 0) AS DOUBLE)
          / CAST(greatest(t.n_lines, 1) AS DOUBLE) AS dup_line_frac,
        CAST(coalesce(ls.dup_occ_chars, 0) AS DOUBLE)
          / CAST(t.line_chars AS DOUBLE) AS dup_line_char_frac,
{top_fr}
{dup_fr}
        t.n_chars AS _nc
      FROM tot t
      LEFT JOIN lstat ls USING (doc_id)
      LEFT JOIN piv p USING (doc_id))"""


def _gopher_rep_oracle() -> str:
    from .operators.textops import GOPHER_REP_RULES

    whens = "\n".join(
        f"        WHEN {name} > {thr} THEN '{name}'"
        for name, thr in GOPHER_REP_RULES
    )
    return f"""
    WITH pages AS MATERIALIZED ({_GOPHER_REP_PAGE_SQL}),
    {_gopher_rep_sig_blocks()}
    SELECT doc_id, n_lines, n_words, dup_line_frac, dup_line_char_frac,
           top_2gram_frac, top_3gram_frac, top_4gram_frac,
           dup_5gram_frac, dup_6gram_frac, dup_7gram_frac,
           dup_8gram_frac, dup_9gram_frac, dup_10gram_frac,
           (CASE
{whens}
            END) IS NULL AS keep,
           CASE
{whens}
           END AS reject_reason
    FROM sig
    """


@register("text_gopher_repetition", oracle=_gopher_rep_oracle())
def text_gopher_repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition-removal suite (Rae et al. 2021
    Table A1 §A1.1; round 10): duplicate-line fraction + char
    fraction, top-{2,3,4}-gram char coverage, duplicate-{5..10}-gram
    char fractions — eleven signals, the paper's thresholds, first
    failing rule as ``reject_reason``. Extends the two-signal
    ``text_repetition_signals`` to the complete published rule set
    with ZERO shuffles under either kernel: the default Arrow
    Counter kernel (hash-identical — exact int64 stats, one final
    int/int divide; ~25 µs/doc) with the per-row sort+fold sql
    kernel as the declarative twin the oracle mirrors (the grouped
    form pays a (doc, gram) exchange per signal and measured 6×
    worse) — so the suite rides the page scan at any corpus size."""
    from .operators import textops

    # round 13: input-layout spread (guide §2.5) — the Arrow Counter
    # kernel is the cost, and a single-row-group fixture scan pins it
    # to one core; identity on any input that already splits
    docs = _td(spark, sf_dir)
    return textops.gopher_repetition(_gopher_rep_pages(docs))


# Deterministic planted URLs (the PII-plant pattern): IP-literal
# hosts every 23rd doc, TLD cycling through good and blocked ones,
# path depth cycling 0..10 (the >8 tail trips the crawler-trap rule),
# query arity cycling 0..2.
_URL_PLANT_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END || "
    "CASE WHEN doc_id % 23 = 0 THEN '10.' || (doc_id % 256) || '.0.9' "
    "     ELSE 'sub' || (doc_id % 7) || '.' || source || '.' || "
    "          ['com', 'org', 'net', 'xyz', 'click'][(doc_id % 5) + 1] END"
    " || repeat('/seg', CAST(doc_id % 11 AS INT))"
    " || CASE WHEN doc_id % 3 = 0 THEN '?q=1&r=2' "
    "         WHEN doc_id % 3 = 1 THEN '?q=1' ELSE '' END"
)


def _url_plant_col() -> F.Column:
    tlds = F.array(
        F.lit("com"), F.lit("org"), F.lit("net"), F.lit("xyz"), F.lit("click")
    )
    host = F.when(
        F.col("doc_id") % 23 == 0,
        F.concat(
            F.lit("10."), (F.col("doc_id") % 256).cast("string"), F.lit(".0.9")
        ),
    ).otherwise(
        F.concat(
            F.lit("sub"), (F.col("doc_id") % 7).cast("string"), F.lit("."),
            F.col("source"), F.lit("."),
            F.element_at(tlds, (F.col("doc_id") % 5 + 1).cast("int")),
        )
    )
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        host,
        F.repeat(F.lit("/seg"), (F.col("doc_id") % 11).cast("int")),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?q=1&r=2"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?q=1"))
        .otherwise(F.lit("")),
    )


_URL_BLOCKED_DOMAINS = ("src0.com", "src3.org")


@register(
    "crawl_url_screen",
    oracle=(lambda f: f"""
    WITH planted AS (
      SELECT doc_id, {_URL_PLANT_SQL} AS url FROM documents
    )
    SELECT doc_id, url,
           {f['scheme']} AS scheme,
           {f['host']} AS host,
           {f['registered_domain']} AS registered_domain,
           {f['tld']} AS tld,
           {f['path_depth']} AS path_depth,
           {f['n_query_params']} AS n_query_params,
           {f['is_ip_host']} AS is_ip_host,
           {f['reject_reason']} AS reject_reason,
           {f['keep']} AS keep
    FROM planted
    """)(oracle_url_screen_sql("url", blocked_domains=_URL_BLOCKED_DOMAINS)),
)
def crawl_url_screen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL feature extraction + the domain/TLD blocklist screen
    (round 8 — the crawl-METADATA filter upstream of content reads;
    CCNet/RefinedWeb class): planted URLs carry IP-literal hosts,
    good and blocked TLDs, a domain blocklist hit, crawler-trap path
    depths and varying query arity; `urlops.url_screen` extracts
    (scheme, host, registrable domain, TLD, path depth, query arity,
    is-IP) with backreference-free regexes Java and RE2 parse
    identically, and applies the precedence taxonomy ip-host →
    blocked-domain → blocked-tld → deep-path. Every feature AND every
    verdict is in the hash; the oracle expressions are generated from
    the same pattern constants."""
    from .operators import urlops

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", "source", _url_plant_col().alias("url"))
    out = urlops.url_screen(
        planted, blocked_domains=_URL_BLOCKED_DOMAINS
    )
    return out.select(
        "doc_id", "url", "scheme", "host", "registered_domain", "tld",
        "path_depth", "n_query_params", "is_ip_host", "reject_reason", "keep",
    )


_HTML_PAGE_SQL = (
    "'<html><body><div>Home | About | Login | Register</div>"
    "<nav><li>products</li><li>pricing</li><li>docs</li></nav>"
    "<p>' || text || '</p>"
    "<div>Copyright 2024 Example Corp All rights reserved worldwide</div>"
    "<footer>contact  privacy  terms  sitemap  careers</footer></body></html>'"
)


def _html_page_col() -> F.Column:
    return F.concat(
        F.lit(
            "<html><body><div>Home | About | Login | Register</div>"
            "<nav><li>products</li><li>pricing</li><li>docs</li></nav><p>"
        ),
        F.col("text"),
        F.lit(
            "</p><div>Copyright 2024 Example Corp All rights reserved "
            "worldwide</div>"
            "<footer>contact  privacy  terms  sitemap  careers</footer>"
            "</body></html>"
        ),
    )


@register(
    "text_html_main_content",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_HTML_PAGE_SQL} AS html FROM documents
    )
    SELECT doc_id, {oracle_html_main_content_sql('html', min_stopword_ratio=0.04)} AS main_text
    FROM planted
    """,
)
def text_html_main_content_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style MAIN-CONTENT extraction (round 8 — the policy
    half on top of ``text_html_extract``'s recall half): each doc's
    text is planted as body prose inside a page with nav chrome, a
    link list, a copyright line and a footer; the block classifier
    (word-count floor + stopword-density floor, the two-feature core
    of Pomikálek 2011's good/bad heuristic) keeps the prose and drops
    every boilerplate block — which is function-word-poor by nature,
    the linguistic fact the heuristic rides on. One codegen
    expression; the oracle is GENERATED from the same split pattern,
    cleanup steps, entity table and stopword list."""
    from .operators import textops

    docs = _td(spark, sf_dir)  # §2.5 spread: the block classifier is per-doc codegen
    planted = docs.select("doc_id", _html_page_col().alias("html"))
    # the 0.04 density floor scales jusText's ~0.3 (which assumes a
    # hundreds-strong stopword list) to the engine's 10-word
    # cross-engine-portable list; the chrome blocks sit at exactly 0
    return planted.select(
        "doc_id",
        textops.html_main_content(
            "html", min_stopword_ratio=0.04
        ).alias("main_text"),
    )


@register(
    "crawl_triage_csv",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, lang, source,
             doc_id || ',' || text || ',' || lang || ',' || source AS raw_ok,
             doc_id || ',,' || lang || ',' || source AS raw_miss,
             'x' || doc_id || ',' || text || ',' || lang || ',' || source AS raw_corrupt,
             doc_id || ',REUP ' || doc_id || ',xx,re' AS raw_reup
      FROM documents
    ), lines AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN raw_corrupt
                  WHEN doc_id % 17 = 0 THEN raw_miss
                  ELSE raw_ok END AS raw,
             CASE WHEN doc_id % 13 = 0 THEN 'unparseable'
                  WHEN doc_id % 17 = 0 THEN 'missing:text' END AS hard_reason,
             CASE WHEN doc_id % 13 = 0 OR doc_id % 17 = 0
                  THEN NULL ELSE text END AS text,
             lang, source
      FROM base
      UNION ALL
      SELECT doc_id, raw_reup AS raw, NULL AS hard_reason,
             'REUP ' || doc_id AS text, 'xx' AS lang, 're' AS source
      FROM base WHERE doc_id % 19 = 0
    ), ok AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY raw) AS rn
      FROM lines WHERE hard_reason IS NULL
    )
    SELECT 'clean' AS kind,
           CAST(doc_id AS VARCHAR) || '|' || text || '|' || lang || '|' || source AS payload
    FROM ok WHERE rn = 1
    UNION ALL
    SELECT 'duplicate_id' AS kind, raw AS payload FROM ok WHERE rn > 1
    UNION ALL
    SELECT hard_reason AS kind, raw AS payload
    FROM lines WHERE hard_reason IS NOT NULL
    """,
)
def crawl_triage_csv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV front door under the same hash gate as
    ``crawl_triage_jsonl``: planted headerless CSV lines — every 13th
    with a non-numeric id (``from_csv`` PERMISSIVE marks the failed
    BIGINT conversion as a corrupt RECORD → unparseable), every 17th
    with an EMPTY text field (CSV empty → NULL → missing:text; note
    the taxonomy difference from JSON, where a type violation nulls
    only the field), every 19th re-uploaded. The oracle states the
    verdicts from the construction; the raw bytes of every
    quarantined line enter the hash."""
    from .sources.crawl import triage_csv

    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    raw_ok = F.concat_ws(",", sid, "text", "lang", "source")
    raw_miss = F.concat(sid, F.lit(",,"), F.col("lang"), F.lit(","), F.col("source"))
    raw_corrupt = F.concat(F.lit("x"), raw_ok)
    raw_reup = F.concat(sid, F.lit(",REUP "), sid, F.lit(",xx,re"))
    line = (
        F.when(F.col("doc_id") % 13 == 0, raw_corrupt)
        .when(F.col("doc_id") % 17 == 0, raw_miss)
        .otherwise(raw_ok)
    )
    lines = docs.select(line.alias("value")).unionByName(
        docs.filter(F.col("doc_id") % 19 == 0).select(raw_reup.alias("value"))
    )
    clean, quarantine = triage_csv(lines)
    return clean.select(
        F.lit("clean").alias("kind"),
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), "text", "lang", "source"
        ).alias("payload"),
    ).unionByName(
        quarantine.select(F.col("reason").alias("kind"), F.col("raw").alias("payload"))
    )


@register(
    "stream_dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def stream_dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a REAL streaming query: the document batch
    arrives as a stream, the stateful fingerprint aggregation
    maintains (keep_id, n_copies) per distinct content, and the final
    availableNow state hash-matches the batch oracle — the streaming
    ingest-time dedup a training pipeline runs on arriving crawl
    shards, streaming == batch verified by the driver itself."""
    from .operators import dedup

    path = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    schema = parquet_schema(spark, path)
    return _run_streamed_fixture(spark, path, schema, dedup.exact_dedup, "stream_dedup")


# Stop-shingle document-frequency cap for the PRODUCTION n-gram
# Jaccard query. A shingle appearing in f docs creates f² candidate
# pairs in the inverted-index self-join, so the cap bounds the join
# fan-out regardless of corpus size. The oracle SQL applies the SAME
# cap (QUALIFY over count per gram), so the query stays hash-checked
# exactly — the cap is part of the declared semantics, not an
# approximation. Near-dup pairs share RARE shingles by definition;
# a pair at jaccard ≥ 0.8 loses a shingle to the cap only when that
# shingle is corpus-wide boilerplate.
_NGRAM_MAX_DF = 50


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index
    self-join with the stop-shingle cap (the production form; the
    cap is mirrored in the oracle so the hash check stays exact).
    The UNCAPPED form remains available as
    ``dedup.ngram_jaccard_pairs(..., max_shingle_freq=None)`` and is
    the ground truth for the MinHash/SimHash recall tests."""
    from .operators import dedup

    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8,
        max_shingle_freq=_NGRAM_MAX_DF,
    )


@register("dedup_minhash_lsh", oracle=None)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (the 100 TB path): banded signature
    buckets generate candidates, exact Jaccard verifies candidates
    only. No SQL oracle (the xxhash64 family is engine-specific);
    recall vs the exact pairs is asserted in tests.

    Band geometry 64 hashes / 16 bands of 4: candidate probability at
    jaccard s is 1-(1-s⁴)¹⁶ — 0.9996 at the 0.8 threshold, <2% at
    s=0.3 — and measured recall is 1.0 at sf0.01 AND sf0.1 while
    running ~37% faster than the earlier 128/32 geometry (half the
    signature kernel, half the banding rows)."""
    from .operators import dedup

    # input spread (round 13, guide §2.5): the gram build below the
    # persist rode ONE task (456 ms single-task stage); spread-safe
    # (per-doc hashing + exact joins), identity at scale. Same-window
    # A/B: 2.18 -> 1.72 s (the incremental twin was A/B'd and left
    # unspread: +0.33 s, its cost sits in the cached index build).
    return dedup.minhash_dedup_pairs(
        _td(spark, sf_dir), n=3, num_hashes=64, num_bands=16, threshold=0.8
    )


# NOTE (round 5): a simhash twin on the minhash-twin pattern is NOT
# constructible. Hamming-0 simhash pairs are not identical-multiset
# pairs — simhash is a per-bit majority VOTE, and two similar-but-
# distinct docs flip no sign when the tallies are away from zero
# (measured: 4 hamming-0 pairs at sf0.01, 41 at sf0.1, across
# all-distinct token multisets). Reproducing the signature in SQL
# would require xxhash64 in DuckDB. The simhash family keeps its
# pytest gates (vectorized kernel == per-doc grouped reference).
@register(
    "dedup_minhash_identical",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), sigs AS (
      SELECT doc_id, md5(string_agg(g, chr(10) ORDER BY g)) AS sig FROM (
        SELECT doc_id, unnest(list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM toks WHERE len(t) >= 3
      ) GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin for the MinHash-LSH family: the FULL pipeline
    (shingle → sign → band → candidate join → exact-Jaccard verify) at
    threshold 1.0, where recall is provably 1 — identical shingle SETS
    give identical signatures, which collide in EVERY band, and the
    exact verify keeps only Jaccard == 1.0 (a non-identical pair's
    Jaccard is ≤ 1 − 1/|union| < 1). The oracle computes the same
    identical-shingle-set pairs by canonical signature (sorted distinct
    3-grams, newline-joined — tokens are whitespace-split so no gram
    can contain the separator). Turns the minhash family's rows-only
    recall bound into a driver value-hash equality on its own pipeline."""
    from .operators import dedup

    pairs = dedup.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), n=3, num_hashes=64, num_bands=16,
        threshold=1.0,
    )
    return dedup._register_cached(
        pairs.select("id_a", "id_b"), *getattr(pairs, "_pwp_cached", ())
    )


# Both incremental-dedup queries split the fixture corpus into an
# "already indexed" part (doc_id % 5 != 0) and a "new crawl batch"
# (doc_id % 5 == 0); the operators must return exactly the batch-run
# pairs that touch ≥1 new doc — which is what the oracle computes from
# the full table.
@register(
    "dedup_incremental_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      AND (id_a % 5 = 0 OR id_b % 5 = 0)
    """,
)
def dedup_incremental_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact near-dup screen: a new batch against a
    materialized shingle index (`dedup.build_ngram_index`), WITHOUT
    re-shingling the corpus. Hash-checked against the batch oracle
    restricted to pairs touching the new docs — proving the
    incremental path loses nothing vs a full re-run."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    index = dedup.build_ngram_index(docs.filter(F.col("doc_id") % 5 != 0))
    return dedup.incremental_jaccard_pairs(
        index,
        docs.filter(F.col("doc_id") % 5 == 0),
        threshold=0.8,
        max_shingle_freq=_NGRAM_MAX_DF,
    )


@register(
    "dedup_incremental_minhash_identical",
    oracle=f"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), toks AS (
      SELECT doc_id, {_TOKS} AS t FROM uni
    ), sigs AS (
      SELECT doc_id, md5(string_agg(g, chr(10) ORDER BY g)) AS sig FROM (
        SELECT doc_id, unnest(list_distinct(
                 list_transform(range(1, len(t) - 1),
                                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM toks WHERE len(t) >= 3
      ) GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id
    WHERE b.doc_id >= 10000000
    """,
)
def dedup_incremental_minhash_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin for the INCREMENTAL MinHash-LSH screen — and,
    unlike ``dedup_minhash_identical`` (0 organic identical docs in the
    fixture), a NON-VACUOUS one: the "new crawl batch" is a planted
    re-id'd COPY of every 7th document (id + 10M), so the screen must
    surface exactly one (original, copy) pair per planted doc with ≥3
    tokens (plus copy↔copy pairs of organically identical originals —
    none in this fixture, which the oracle also verifies). At
    threshold 1.0 recall is provably 1: identical shingle sets give
    identical signatures, which collide in EVERY band of the
    batch-vs-index probe, and the exact-Jaccard verify keeps exactly
    the identical-set pairs. The oracle recomputes the same pairs by
    canonical signature over the same planted union, restricted to
    touching-new (copy ids are ≥ 10M, and id_a < id_b puts the copy on
    the b side of every cross pair). Proves the batch-vs-stored-index
    candidate join and verify lose nothing, with a value hash over a
    non-empty result."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    grams, sigs = dedup.build_minhash_index(docs, num_hashes=64)
    result = dedup.incremental_minhash_pairs(
        grams, sigs, batch, num_hashes=64, num_bands=16, threshold=1.0,
    )
    return dedup._register_cached(
        result.select("id_a", "id_b"), grams,
        *getattr(result, "_pwp_cached", ()),
    )


@register("dedup_incremental_minhash", oracle=None)
def dedup_incremental_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH screen (the 100 TB batch-vs-index
    path). The declared form builds the index INLINE (the contract:
    O(corpus + batch) work, nothing precomputed), using the one-pass
    mode (round 7): index and batch grams are signed together in ONE
    range exchange + ONE Arrow kernel instead of two of each —
    measured ~0.7 s faster at sf0.1 with identical results
    (signatures are per-doc deterministic; equality with the batch
    pipeline and with the explicit-sigs mode is pinned in
    test_incremental_dedup). In production the corpus side is a
    STORED index — signatures read, not recomputed — which is the
    ``index_banded`` path the curator runs. No SQL oracle (seeded
    xxhash64 signature family is engine-specific); tests assert
    equality with the batch pipeline on the union restricted to
    touching-new pairs."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    grams = dedup.build_ngram_index(docs.filter(F.col("doc_id") % 5 != 0)).persist()
    result = dedup.incremental_minhash_pairs(
        grams, None, docs.filter(F.col("doc_id") % 5 == 0),
        num_hashes=64, num_bands=16, threshold=0.8,
    )
    # the inline-built index grams are persisted above; ride them on
    # the result so release_intermediates frees everything
    return dedup._register_cached(result, grams)


_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount"]


@register(
    "profile_lineitem_stats",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows, count({c}) AS n_nonnull,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS DOUBLE) AS min_val, CAST(max({c}) AS DOUBLE) AS max_val
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def profile_lineitem_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE-statistics utility): per-column
    row/non-null/distinct counts and min/max in ONE scan — all aggs
    computed in a single pass, then unpivoted with stack(). Exact
    count-distinct here for oracle parity (Expand ×|cols| over the
    scan); the 100 TB form swaps in approx_count_distinct (HLL, no
    Expand) — the engine-specific sketches are declared separately as
    approx_stats."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    stacked = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return li.agg(*aggs).selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stacked}) AS (col_name, n_nonnull, n_distinct, min_val, max_val)",
        "n_rows",
    ).select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_val", "max_val")


# The fixture corpus is synthetic word soup with no natural PII, so
# the query deterministically plants PII derived from row data —
# identical construction on both sides — and the operator under test
# (regex detection + ordered redaction, operators/pii.py) is what the
# hash check exercises.
_PII_PLANT_SQL = (
    "substr(text, 1, 60) || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@corp-' || source || '.org call 415-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 7) % 256 AS VARCHAR)"
    " || CASE WHEN doc_id % 3 = 0 THEN ' ssn 987-65-4321' ELSE '' END"
)


def _pii_plant_col() -> F.Column:
    return F.concat(
        F.substring("text", 1, 60),
        F.lit(" reach user"), F.col("doc_id").cast("string"),
        F.lit("@corp-"), F.col("source"), F.lit(".org call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" host 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 987-65-4321")).otherwise(F.lit("")),
    )


@register(
    "text_pii_redaction",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id, {_PII_PLANT_SQL} AS txt FROM documents
    )
    SELECT doc_id,
           {pii.oracle_count_sql('txt', pii.PII_PATTERNS['email'])} AS n_email,
           {pii.oracle_count_sql('txt', pii.PII_PATTERNS['ssn'])} AS n_ssn,
           {pii.oracle_count_sql('txt', pii.PII_PATTERNS['phone'])} AS n_phone,
           {pii.oracle_count_sql('txt', pii.PII_PATTERNS['ipv4'])} AS n_ipv4,
           CAST({' + '.join(pii.oracle_count_sql('txt', p) for p in pii.PII_PATTERNS.values())}
                AS BIGINT) AS pii_total,
           {pii.oracle_redact_sql('txt')} AS redacted
    FROM planted
    """,
)
def text_pii_redaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction (operators/pii.py): per-pattern match
    counts on the original text and sequentially redacted output, all
    JVM-side regex in one codegen stage. The oracle SQL is GENERATED
    from the same PII_PATTERNS constants (RE2/Java-agreeing subset) so
    the redacted strings hash-match byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("doc_id", _pii_plant_col().alias("text"))
    return pii.scan_pii(planted)


@register("dedup_simhash", oracle=None)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprints, pigeonhole quarter
    blocking, hamming ≤ 3 verification."""
    from .operators import dedup

    return dedup.simhash_near_pairs(
        _td(spark, sf_dir), max_hamming=3,
        sig_partitions=_cache_parts(sf_dir, "documents", 16),
    )


@register(
    "dedup_simhash_checked",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), th AS MATERIALIZED (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok || ':sh'), 1, 15))
                  AS UBIGINT) AS BIGINT) AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
      GROUP BY doc_id, b
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    ), quarters AS MATERIALIZED (
      SELECT doc_id, simhash, q, (simhash >> (16 * q)) & 65535 AS qv
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS q)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM quarters a JOIN quarters b
        ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def dedup_simhash_checked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin for the SimHash family (the fold-golden /
    multimodal_checked pattern, round 7): the SAME vectorized
    ``np.add.reduceat`` vote kernel, quarter blocking and Hamming
    verify as ``dedup_simhash`` — only the per-token hash swapped to
    the engine-portable 60-bit md5 prefix (``hash_fn="md5_60"``), so
    DuckDB rebuilds every vote tally, every signature bit, the
    pigeonhole candidate set, and the popcount verdicts bit-for-bit.
    This closes the family's rows-only gap: the operational xxhash64
    form differs ONLY in the token-hash expression (pinned by the
    shared kernel + a swap test), and that expression is exactly what
    the driver hash now covers in the md5 form."""
    from .operators import dedup

    return dedup.simhash_near_pairs(
        _td(spark, sf_dir), max_hamming=3, hash_fn="md5_60",
        sig_partitions=_cache_parts(sf_dir, "documents", 16),
    )


def _simhash_rotated_oracle(blocks: int = 8, radius: int = 6) -> str:
    """DuckDB twin of the Manku multi-rotation screen: the md5_60
    signature chain, then ONE (tbl, b0, b1) VALUES row per block
    combination — the rotation tables — with the packed two-block key
    rebuilt in integer bit ops, the (tbl, key) equi-join as the
    sorted-neighborhood probe, and the exact popcount verdict."""
    from .operators.dedup import _simhash_combos

    width = 64 // blocks
    mask = (1 << width) - 1
    combos = _simhash_combos(blocks, radius)
    assert len(combos[0]) == 2, "oracle generator assumes 2-block keys"
    values = ", ".join(
        f"({t}, {b0}, {b1})" for t, (b0, b1) in enumerate(combos)
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), th AS MATERIALIZED (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok || ':sh'), 1, 15))
                  AS UBIGINT) AS BIGINT) AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
      GROUP BY doc_id, b
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    ), rot AS MATERIALIZED (
      SELECT s.doc_id, s.simhash, c.tbl,
             ((s.simhash >> ({width} * c.b0)) & {mask})
             + (((s.simhash >> ({width} * c.b1)) & {mask}) << {width}) AS key
      FROM sig s CROSS JOIN (VALUES {values}) AS c(tbl, b0, b1)
    ), cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM rot a JOIN rot b
        ON a.tbl = b.tbl AND a.key = b.key AND a.doc_id <> b.doc_id
      WHERE a.doc_id % 5 = 0
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {radius}
    """


@register("dedup_simhash_rotated", oracle=_simhash_rotated_oracle())
def dedup_simhash_rotated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku multi-rotation Hamming screen (round 8 — r7 verdict #5):
    the quarter-block scheme generalized to radius 6 WITHOUT widening
    blocks — 8×8-bit blocks, one rotation table per 2-block
    combination (C(8,2) = 28 tables of 16-bit keys), every hamming-≤6
    pair guaranteed a clean table by pigeonhole, exact popcount
    verify. Run incrementally (doc_id % 5 == 0 is the batch probing
    the stored rotation-key index of the rest), with the md5_60 token
    hash so DuckDB reproduces rotations, neighborhoods and verdicts
    bit-for-bit. The alternative — 7 single-block tables of ~9-bit
    keys — trades table count for bucket occupancy and loses at any
    real corpus size (corpus/512 docs per bucket)."""
    from .operators import dedup

    # round 13 (guide §2.4): ONE signature kernel pass over the whole
    # corpus, persisted; the 28 rotation tables on both the index and
    # the (twice-referenced) batch side derive from the materialized
    # 16-byte/doc signature table instead of re-running the
    # tokenize→md5→vote kernel per reference (3 subtree executions
    # before). Per-doc signatures are independent of batch
    # composition, so split-after-kernel is value-identical. The _td
    # spread (§2.5) keeps the one materialization pass off the
    # single-core fixture scan; the cached table itself re-packs to
    # size-based partitions (§2.2 — 28 rotation rows explode from
    # each cached row, and every probe stage pays per cached-partition
    # task launches).
    docs = _td(spark, sf_dir)
    sigs = (
        dedup.simhash64(docs, hash_fn="md5_60")
        .repartition(_cache_parts(sf_dir, "documents", 16), "doc_id")
        .persist()
    )
    index_keys = dedup.simhash_rotation_keys(
        sigs.filter(F.col("doc_id") % 5 != 0), blocks=8, radius=6
    )
    return dedup._register_cached(
        dedup.incremental_simhash_pairs_rotated(
            index_keys,
            None,
            blocks=8,
            radius=6,
            hash_fn="md5_60",
            batch_sigs=sigs.filter(F.col("doc_id") % 5 == 0),
        ),
        sigs,
    )


@register(
    "dedup_incremental_simhash",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), th AS MATERIALIZED (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok || ':sh'), 1, 15))
                  AS UBIGINT) AS BIGINT) AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
      GROUP BY doc_id, b
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    ), quarters AS MATERIALIZED (
      SELECT doc_id, simhash, q, (simhash >> (16 * q)) & 65535 AS qv
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS q)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM quarters a JOIN quarters b
        ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM cand
    WHERE hamming <= 3 AND (id_a % 5 = 0 OR id_b % 5 = 0)
    """,
)
def dedup_incremental_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash screen (round 7 final): an 80% stored
    signature index (8 bytes/doc — the cheapest stored dedup state in
    the engine) is probed by the 20% new batch; pairs = (batch ×
    index) ∪ (batch × batch), exact popcount verify. Equality law
    (incremental == full run restricted to batch-touching pairs) is
    pinned in tests; this declared form runs the portable md5_60 hash
    so the driver hash covers signatures, blocking and verdicts of
    the INCREMENTAL composition end-to-end. At 100 TB the index side
    is a parquet table of longs that only ever APPENDS — no banding
    or df tier to maintain, making this the lightest-weight
    operational near-dup screen in the family."""
    from .operators import dedup

    # round 13 (guide §2.4): ONE signature kernel pass over the whole
    # corpus, persisted; index and batch sides are filters on the
    # materialized 16-byte/doc table (was: index sigs computed once +
    # batch sigs computed TWICE — the probe and union references).
    # Per-doc signatures are independent of batch composition, so the
    # split-after-kernel form is value-identical to kernel-after-split.
    # The _td spread (§2.5) keeps the one materialization pass off the
    # single-core fixture scan; the cached table re-packs to
    # size-based partitions (§2.2).
    docs = _td(spark, sf_dir)
    sigs = (
        dedup.simhash64(docs, hash_fn="md5_60")
        .repartition(_cache_parts(sf_dir, "documents", 16), "doc_id")
        .persist()
    )
    return dedup._register_cached(
        dedup.incremental_simhash_pairs(
            sigs.filter(F.col("doc_id") % 5 != 0),
            None,
            max_hamming=3,
            hash_fn="md5_60",
            batch_sigs=sigs.filter(F.col("doc_id") % 5 == 0),
        ),
        sigs,
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings
    ), n AS (
      -- zero-norm guard mirrors the engine kernel's _safe_norm:
      -- an all-zero vector gets norm 1 => cosine 0, never NaN
      SELECT vec_id, em,
             coalesce(nullif(sqrt(list_dot_product(em, em)), 0), 1) AS nrm
      FROM v
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.em, b.em) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.em, b.em) / (a.nrm * b.nrm), 6) >= 0.4
    """,
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact ground truth: blocked
    numpy matmul against the broadcast normalized corpus (the
    brute-force contract — similarity matrix never shuffles). The
    100 TB path is the hyperplane-LSH-blocked variant
    (``dedup_embedding_lsh``). Threshold on ROUNDED cosine in both
    engines so float summation order cannot flip a boundary pair."""
    from .operators import dedup

    _prep(spark)
    return dedup.embedding_cosine_pairs_exact(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


@register("dedup_embedding_lsh", oracle=None)
def dedup_embedding_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane-LSH blocking: bucket
    collisions in ≥1 of 8 sign-pattern tables gate the exact cosine —
    never all-pairs. No SQL oracle (bucket set is engine-specific);
    recall vs the exact pairs is asserted in tests on clustered data
    (the near-dup regime). Threshold 0.4 here for non-empty rows on
    the driver's unclustered fixture."""
    from .operators import dedup
    from .sources.tables import spread_scan

    _prep(spark)
    # §2.5 spread: signature kernel + candidate self-join otherwise
    # ride a one-partition scan of the single-row-group fixture
    emb = spread_scan(
        _t(spark, sf_dir, "embeddings"), spark,
        f"{sf_dir}/embeddings.parquet", key="vec_id",
    )
    return dedup.embedding_cosine_pairs_lsh(
        emb, dim=64, threshold=0.4,
        num_planes=4, num_tables=16,
    )


@register("dedup_embedding_lsh_auto", oracle=None)
def dedup_embedding_lsh_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SIZED embedding-LSH screen (round 7, r6 verdict
    #7): geometry comes from ``lsh_auto_geometry(expected_corpus=N)``
    — planes track log2(N/bucket) so occupancy stays O(1), tables
    restore recall — instead of the fixed 4×16 the series query keeps
    for continuity. The round-6 probe measured the fixed geometry at
    42× cost under a 10× corpus and the auto geometry at 0.9×; this
    entry makes the auto path the BENCHED path, so regressions in the
    sizing rule show up in the bench series, not just in a helper
    test. Geometry is sized at the 0.9 near-dup regime (the
    production setting the sizing rule targets); the exact-cosine
    verify keeps the fixed twin's 0.4 threshold so rows stay
    non-empty on the weak-similarity driver fixture — the same
    compromise the fixed query documents. Rows-only like its fixed
    twin (bucket sets are engine-specific; recall on clustered data
    is asserted in test_classifier.py's auto-geometry tests and
    ``dedup_embedding_lsh_auto_clustered`` hash-checks this exact
    sizing rule end-to-end). Corpus size comes from parquet footer
    metadata (``_meta_rowcount``), NOT ``df.count()`` — round 8
    removed the registry's one eager Spark action (r7 verdict)."""
    from .operators import dedup
    from .operators.similarity import lsh_auto_geometry

    _prep(spark)
    from .sources.tables import spread_scan

    emb = spread_scan(
        _t(spark, sf_dir, "embeddings"), spark,
        f"{sf_dir}/embeddings.parquet", key="vec_id",
    )
    planes, tables = lsh_auto_geometry(
        _meta_rowcount(sf_dir, "embeddings"), threshold=0.9
    )
    return dedup.embedding_cosine_pairs_lsh(
        emb, dim=64, threshold=0.4, num_planes=planes, num_tables=tables
    )


@register(
    "text_token_counts",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lower(text) AS s,
             string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS ws_tokens,
           CAST(len(list_filter(
                  regexp_extract_all(s, '''[a-z]{1,2}| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+'),
                  x -> NOT regexp_matches(x, '^\s+$')
                )) AS BIGINT) AS bpe_ish_tokens
    FROM t
    """,
)
def text_token_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgets both ways: whitespace tokens and the GPT-2-style
    BPE-ish regex pre-tokenizer count (contraction | space?+letters |
    space?+digits | space?+punct) — the regex subset chosen so Java
    regex and RE2 agree match-for-match."""
    from .operators import textops

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.token_count(F.col("text")).alias("ws_tokens"),
        textops.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS freq FROM tok GROUP BY tok
      ) ORDER BY freq DESC, tok LIMIT 32
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS oov_frac
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def text_vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-truncation coverage: top-32 corpus tokens as the
    vocab (freq desc, token tiebreak), per-doc OOV token share — the
    measurement that sizes a tokenizer vocabulary against a corpus.
    Plan: word-count agg + TakeOrdered(V) for the vocab, broadcast
    back into a per-doc count — nothing wider than V moves."""
    from .operators import textops

    d = _t(spark, sf_dir, "documents")
    return textops.vocab_coverage(d, vocab_size=32)


@register(
    "text_rolling_fingerprints",
    oracle="""
    WITH d AS (
      SELECT doc_id, trim(lower(text)) AS s FROM documents
    ), grams AS (
      SELECT doc_id, unnest(range(1, len(s) - 8 + 2)) AS pos, s
      FROM d WHERE len(s) >= 8
    ), hashed AS (
      SELECT doc_id, pos,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, 8),
                   j -> CAST(ascii(substr(s, CAST(pos + j AS INT), 1)) AS BIGINT))),
               (acc, c) -> (acc * 257 + c) % 2147483647
             ) AS h
      FROM grams
    ), keyed AS (
      SELECT doc_id, pos, h,
             h * 1048576 + (1048576 - pos) AS kk,
             count(*) OVER (PARTITION BY doc_id) AS ng
      FROM hashed
    ), winmins AS (
      SELECT doc_id, pos AS s, ng,
             min(kk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mk
      FROM keyed
    ), winsel AS (
      SELECT DISTINCT doc_id, 1048576 - (mk % 1048576) AS pos
      FROM winmins WHERE s <= greatest(ng - 16 + 1, 1)
    )
    SELECT doc_id, pos, h AS fingerprint
    FROM hashed JOIN winsel USING (doc_id, pos)
    """,
)
def text_rolling_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (MOSS, Schleimer
    2003): char-8-gram polynomial hashes, per-window RIGHTMOST
    minima over 16-gram windows (paper-faithful since round 12 —
    matching substrings of ≥ 23 chars share a fingerprint BY
    CONSTRUCTION). The hash is plain integer Horner arithmetic and
    the oracle mirrors the packed-key rightmost-argmin construction,
    so DuckDB reproduces every selected (pos, fingerprint) exactly."""
    from .operators import textops

    return textops.rolling_fingerprints(
        _t(spark, sf_dir, "documents"), k=8, w=16
    )


@register(
    "text_unigram_logprob",
    # the isnotnull(doc_id) guard mirrors the operator's contract
    # (round 13 — r12 verdict #4a: a NULL-id doc cannot be scored
    # per-doc, and since r12 the operator tokenizes behind bigram's
    # shared isnotnull+repartition boundary). No driver fixture
    # carries NULL ids, so results are unchanged on every SF; the
    # clause only pins the contract so a future fixture cannot expose
    # an engine/oracle divergence silently.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
      WHERE doc_id IS NOT NULL
    ), tf AS (
      SELECT term, count(*) AS tf FROM toks GROUP BY term
    ), tot AS (
      SELECT sum(tf) AS n_total FROM tf
    ), lp AS (
      SELECT term, round(ln(CAST(tf AS DOUBLE) / n_total), 8) AS logp
      FROM tf, tot
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round({sql_dsum("logp")}, 6) AS logprob,
           round({sql_dsum("logp")} / count(*), 6) AS mean_logprob
    FROM toks JOIN lp USING (term)
    GROUP BY doc_id
    """,
)
def text_unigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring over the corpus' own term
    distribution (the standard LM-filter for training-data curation):
    per-token log p rounded to 8dp before the exact decimal sum, so
    both engines' log() agree on every compared digit."""
    from .operators import textops

    return textops.unigram_logprob(_t(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    """DuckDB twin of textops.lang_id: per-language trigram-occurrence
    scores via non-overlapping replace-length counting (the same
    semantics as Python str.count), argmax with profile-order
    tie-break, 'und' when every score is zero. Generated from the
    SAME _LANG_PROFILES the UDF uses, so the two can never drift."""
    from .operators.textops import _LANG_PROFILES

    def score(grams):
        return "(" + " + ".join(
            f"(len(s) - len(replace(s, '{g}', ''))) / 3" for g in grams
        ) + ")"

    branches = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS lang, {i} AS ord, {score(grams)} AS score FROM t"
        for i, (lang, grams) in enumerate(_LANG_PROFILES.items())
    )
    return f"""
    WITH t AS (SELECT doc_id, coalesce(lower(text), '') AS s FROM documents),
    scores AS ({branches}),
    best AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, ord) AS rn
      FROM scores
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred
    FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """


@register("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-profile language ID (vectorized Pandas UDF), now
    hash-checked against a pure-SQL twin of the scoring function
    (accuracy itself is asserted on the per-language-vocabulary corpus
    in test_llm_ops.py)."""
    from .operators import textops

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", textops.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def sim_bruteforce_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 10 query vectors: broadcast queries,
    numpy-matmul partial top-k per corpus partition, merge — the
    all-pairs matrix never shuffles. Ranked by round(sim, 6) in both
    engines so summation order cannot flip ranks."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        spark, corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=10, round_to=6
    )


@register(
    "sim_jvm_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10 AND list_dot_product(embedding, embedding) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE list_dot_product(embedding, embedding) > 0
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def sim_jvm_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact cosine top-10 as sim_bruteforce_topk, computed
    ENTIRELY with built-in JVM higher-order functions (zip_with +
    aggregate fold dot products, broadcast query side) — zero Python
    workers in the plan, proving the vectorized kernel and the
    declarative path agree bit-for-bit on the same rounded-rank
    protocol (zero-norm vectors excluded on both sides — no defined
    cosine, no NaN in the rank)."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.jvm_cosine_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=10, round_to=6
    )


@register(
    "sketch_hdr_token_mass",
    oracle=f"""
    WITH vals AS (
      SELECT len({_TOKS}) AS v FROM documents
    ), bkt AS (
      SELECT v,
             greatest(length(bin(v)) - 1 - 6, 0) * 64
             + v // (1::BIGINT << greatest(length(bin(v)) - 1 - 6, 0)) AS idx
      FROM vals
    ), sk AS (
      SELECT idx, sum(v) AS cnt FROM bkt GROUP BY idx
    ), cum AS (
      SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM sk
    ), tot AS (
      SELECT sum(cnt) AS total FROM sk
    ), qs AS (
      SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS q
    ), hit AS (
      SELECT q.q, min(c.idx) AS idx
      FROM cum c CROSS JOIN tot t CROSS JOIN qs q
      WHERE c.cum >= ceil(q.q * t.total) GROUP BY q.q
    ), est AS (
      SELECT q, CASE WHEN idx < 64 THEN idx
                     ELSE (idx - (idx // 64 - 1) * 64)
                          * (1::BIGINT << (idx // 64 - 1)) END AS est
      FROM hit
    ), wcum AS (
      SELECT v, sum(v) OVER (ORDER BY v, rowid_) AS cum
      FROM (SELECT v, row_number() OVER (ORDER BY v) AS rowid_ FROM vals)
    ), exact AS (
      SELECT q.q, min(w.v) AS exact_q
      FROM wcum w CROSS JOIN tot t CROSS JOIN qs q
      WHERE w.cum >= ceil(q.q * t.total) GROUP BY q.q
    )
    SELECT e.q, e.est, x.exact_q
    FROM est e JOIN exact x ON e.q = x.q
    """,
)
def sketch_hdr_token_mass_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-MASS quantiles of document length (round 7 final — the
    weighted HDR path under the hash gate): each doc's length bucket
    weighted by its token count, answering the question LLM data work
    actually asks — 'docs up to what length hold 50% / 90% of the
    TOKENS' (doc-count quantiles misstate this badly on heavy-tailed
    corpora: a few giant docs carry most of the mass). Same
    fixed-width integer-exact bucketing; the weighted exact baseline
    (cumulative-token-sum window) rides alongside for self-evidencing
    error. Sketch side: one scan + a map-side-combined weighted agg
    bounded at sketch width per task."""
    from pyspark.sql import Window

    from .operators import sketch, textops

    d = _t(spark, sf_dir, "documents")
    vals = d.select(textops.token_count("text").alias("v")).withColumn(
        "w", F.col("v")
    )
    qs = [0.5, 0.9]
    sk = sketch.hdr_build(vals, "v", sub_bits=6, weight="w")
    est = sketch.hdr_quantiles(sk, qs, sub_bits=6)
    tot = sk.agg(F.sum("cnt").alias("total"))
    win = Window.orderBy("v", "rowid_")
    wcum = (
        vals.select("v")
        .withColumn("rowid_", F.row_number().over(Window.orderBy("v")))
        .withColumn("cum", F.sum("v").over(win))
    )
    qdf = wcum.crossJoin(F.broadcast(tot)).select(
        "v", "cum", "total", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    exact = (
        qdf.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy("q")
        .agg(F.min("v").alias("exact_q"))
    )
    return est.join(exact, "q").select("q", "est", "exact_q")


@register(
    "sketch_hdr_drift",
    oracle=f"""
    WITH vals AS (
      SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS side,
             len({_TOKS}) AS v
      FROM documents
    ), bkt AS (
      SELECT side,
             greatest(length(bin(v)) - 1 - 6, 0) * 64
             + v // (1::BIGINT << greatest(length(bin(v)) - 1 - 6, 0)) AS idx
      FROM vals
    ), sk AS (
      SELECT side, idx, count(*) AS cnt FROM bkt GROUP BY side, idx
    ), a AS (SELECT idx, cnt AS ca FROM sk WHERE side = 'a'),
       b AS (SELECT idx, cnt AS cb FROM sk WHERE side = 'b'),
       na AS (SELECT sum(ca) AS n_a FROM a),
       nb AS (SELECT sum(cb) AS n_b FROM b),
       j AS (
         SELECT n_a, n_b,
                round(abs(coalesce(ca, 0) / CAST(n_a AS DOUBLE)
                          - coalesce(cb, 0) / CAST(n_b AS DOUBLE)), 9) AS ad
         FROM a FULL OUTER JOIN b USING (idx) CROSS JOIN na CROSS JOIN nb
       )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(0.5 * {sql_dsum("ad")}, 6) AS tv
    FROM j GROUP BY n_a, n_b
    """,
)
def sketch_hdr_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution drift (round 7 final): total-variation
    distance between the src0 domain's and the rest-of-corpus's
    token-count HDR histograms — the doc-length complement of
    sim_embedding_drift, and the alarm the curator's maintained hdr
    tier feeds for free (compare this crawl's tier against the
    reference corpus's; re-curate when the shape moves). Fixed-width
    state, two sketch aggregates + one ≤-sketch-width outer join, a
    1-row answer; bucket-resolution TV LOWER-bounds true TV, so the
    alarm is conservative. Integer-exact buckets + the round-then-
    decimal-sum protocol make the whole statistic hash-checkable."""
    from .operators import sketch, textops

    d = _t(spark, sf_dir, "documents")
    vals = d.select(
        F.when(F.col("source") == "src0", F.lit("a")).otherwise(F.lit("b")).alias("side"),
        textops.token_count("text").alias("v"),
    )
    sk_a = sketch.hdr_build(vals.filter(F.col("side") == "a"), "v", sub_bits=6)
    sk_b = sketch.hdr_build(vals.filter(F.col("side") == "b"), "v", sub_bits=6)
    return sketch.hdr_distance(sk_a, sk_b)


def _jl_oracle(in_dim: int = 64, out_dim: int = 16, seed: str = "jl") -> str:
    """Oracle for the JL projection: the SAME Python-computed literal
    matrix embedded as DuckDB struct rows; list_dot_product is the
    identical index-order left fold, so every rounded component
    matches bitwise."""
    from .operators.similarity import jl_projection_matrix

    m = jl_projection_matrix(in_dim, out_dim, seed)
    rows = ", ".join(
        "{'d': %d, 'm': [%s]}" % (j, ", ".join(repr(x) for x in row))
        for j, row in enumerate(m)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m AS (
      SELECT unnest([{rows}]) AS r
    )
    SELECT vec_id, CAST(r.d AS INT) AS d,
           round(list_dot_product(v, r.m), 6) AS val
    FROM base, m
    """


@register("sim_jl_projection", oracle=_jl_oracle())
def sim_jl_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss embedding compression (Achlioptas 2003
    Rademacher matrix, ±1/sqrt(16) literals from md5(seed:row:col)):
    64 → 16 dims as a PURE codegen projection — zero exchanges, zero
    Python, the 4x-compression step an ANN/dedup state table applies
    on write at 100 TB (distance preservation law-tested). Long-form
    output (vec_id, d, val) with each component one
    aggregate(zip_with) left fold — bitwise-matching DuckDB's
    list_dot_product over the identical embedded literal matrix."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.project_embeddings(emb, in_dim=64, out_dim=16)


@register(
    "sim_hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, label AS qlabel,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings
      WHERE vec_id < 20 AND list_dot_product(embedding, embedding) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, label AS clabel,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE list_dot_product(embedding, embedding) > 0
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
      FROM q, c WHERE clabel <> qlabel
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def sim_hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training (ANCE,
    Xiong et al. 2021; DPR, Karpukhin et al. 2020): per query, the
    top-5 most-similar corpus vectors with a DIFFERENT label — the
    maximally-confusable wrong answers a bi-encoder trains against.
    Exact rounded-rank cosine (left-fold dot products match DuckDB's
    list_dot_product bitwise), label filter on the broadcast join
    predicate. At scale the corpus side swaps to IVF/LSH candidates
    with the same label filter (the per-epoch ANCE re-mining loop);
    this exact form is that loop's measured ground truth."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.hard_negative_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 20), k=5
    )


@register(
    "sim_quantized_topk",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), qz AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM base
    ), deq AS (
      SELECT vec_id,
             list_transform(v, x -> round(x / scale) * scale) AS cv
      FROM qz WHERE scale > 0
    ), q AS (
      SELECT vec_id AS query_id, v AS qv
      FROM base WHERE vec_id < 10 AND list_dot_product(v, v) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, cv
      FROM deq WHERE list_dot_product(cv, cv) > 0
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def sim_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 against the int8-QUANTIZED corpus (round 7):
    float queries vs per-vector scalar-quantized + dequantized
    vectors, scored with the same JVM fold-dot protocol as
    sim_jvm_cosine_topk. Quantization is the at-scale storage format
    (1 byte/dim vs 4 — a 100 TB float index becomes ~25 TB of codes),
    and because every step is deterministic IEEE double arithmetic in
    both engines, the APPROXIMATE result is still hash-checked
    bit-for-bit against the oracle; recall vs the exact ranking is
    asserted separately in tests."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantized_cosine_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=10, round_to=6
    )


@register("sim_lsh_topk", oracle=None)
def sim_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH (16 tables × 4
    planes — tuned for the weak-similarity regime of this corpus:
    collision prob per table (1-θ/π)^planes, so fewer planes = higher
    recall at more candidates). Recall vs brute force asserted in
    tests."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        spark, corpus=emb, queries=emb.filter(F.col("vec_id") < 10),
        dim=64, k=10, num_planes=4, num_tables=16,
    )


@register("multimodal_features", oracle=None)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: deterministic media table with REAL BMP /
    WAV blobs → metadata-pruned decode (pure-python codecs; mp4 still
    fake — no libav in container) → per-item feature vectors via
    Arrow-batched mapInPandas. Returns (media_id, modality,
    feature norm) — stable schema/rows."""
    from .operators import multimodal as mm

    _prep(spark)
    media = mm.synthetic_media(spark, n=64, seed=42)
    feats = mm.extract_features(media)
    norm = F.sqrt(
        F.aggregate(F.transform("feat", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return feats.select("media_id", "modality", F.round(norm, 6).alias("feat_norm"))


def _logreg_cte(iters: int = 10, lr: float = 2.0) -> str:
    """Unrolled-CTE oracle for the quality classifier: feature
    z-scoring plus the full-batch GD fit under the kmeans determinism
    protocol (stats/gradients/weights rounded to 9 per step, z-scores
    and scores to 6) replayed as chained CTEs — the
    logistic-regression analog of ``_kmeans_cte``."""
    feat_sql = f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 400 THEN 1.0 ELSE 0.0 END AS y,
             round(ln(1.0 + len(toks)), 6) AS f1,
             round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS f2,
             round(CAST(len(list_filter(toks, x -> x IN {_STOPS})) AS DOUBLE) / len(toks), 6) AS f3,
             round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text), 6) AS f4,
             round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS f5
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    ), st AS (
      SELECT {", ".join(
          f"round(avg(f{j}), 9) AS m{j}, round(stddev_samp(f{j}), 9) AS s{j}"
          for j in range(1, 6))}
      FROM raw
    ), f AS (
      SELECT doc_id, y,
             {", ".join(
          f"round((f{j} - m{j}) / (CASE WHEN s{j} = 0 THEN 1.0 ELSE s{j} END), 6) AS f{j}"
          for j in range(1, 6))}
      FROM raw CROSS JOIN st
    ), w_0 AS (
      SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, 0.0 AS w5
    )"""
    parts = [feat_sql]
    margin = "(w0 + w1*f1 + w2*f2 + w3*f3 + w4*f4 + w5*f5)"
    for t in range(iters):
        parts.append(f"""
    , s_{t} AS (
      SELECT f.*, 1.0/(1.0 + exp(-{margin})) AS p FROM f CROSS JOIN w_{t}
    ), g_{t} AS (
      SELECT round(avg(p - y), 9) AS g0,
             round(avg((p - y) * f1), 9) AS g1,
             round(avg((p - y) * f2), 9) AS g2,
             round(avg((p - y) * f3), 9) AS g3,
             round(avg((p - y) * f4), 9) AS g4,
             round(avg((p - y) * f5), 9) AS g5
      FROM s_{t}
    ), w_{t + 1} AS (
      SELECT round(w0 - {lr} * g0, 9) AS w0, round(w1 - {lr} * g1, 9) AS w1,
             round(w2 - {lr} * g2, 9) AS w2, round(w3 - {lr} * g3, 9) AS w3,
             round(w4 - {lr} * g4, 9) AS w4, round(w5 - {lr} * g5, 9) AS w5
      FROM w_{t} CROSS JOIN g_{t}
    )""")
    parts.append(f"""
    , scored AS (
      SELECT doc_id, CAST(y AS BIGINT) AS label,
             round(1.0/(1.0 + exp(-{margin})), 6) AS score,
             round(1.0/(1.0 + exp(-{margin})), 6) >= 0.5 AS keep
      FROM f CROSS JOIN w_{iters}
    )""")
    return "".join(parts)


def _logreg_oracle(iters: int = 10, lr: float = 2.0) -> str:
    return _logreg_cte(iters, lr) + "SELECT doc_id, label, score, keep FROM scored"


@register("quality_classifier_scores", oracle=_logreg_oracle(iters=6, lr=2.0))
def quality_classifier_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (GPT-3 / CCNet pattern, public): distill
    a heuristic rule (Gopher length floor, length >= 400) into a
    logistic regression over z-scored surface features, score every
    document, keep by threshold — ~97% agreement with the teacher
    rule on held-in data, learned from features that only correlate
    with it. Spark shape: features + z-scores are codegen projections
    (no shuffle); the stats pass and each GD iteration are ONE
    D-wide map-side-combined aggregate; scoring is a literal-weight
    projection. 6 GD iterations: measured identical teacher agreement
    to 10 on held-in data, and at 100 TB the iteration count IS the
    cost (one corpus pass each). The oracle replays standardization
    AND the entire fit as unrolled CTEs under the shared rounding
    protocol, so the driver hash-checks training and scoring
    end-to-end."""
    from .operators import classifier

    return classifier.quality_classifier_scores(
        _t(spark, sf_dir, "documents"),
        label=F.length("text") >= 400,
        iters=6, lr=2.0,
    )


@register(
    "quality_outlier_mad",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id, CAST(len({_TOKS}) AS DOUBLE) AS value FROM documents
    ), m AS (
      SELECT quantile_cont(value, 0.5) AS med FROM vals
    ), d AS (
      SELECT quantile_cont(abs(value - med), 0.5) AS mad FROM vals CROSS JOIN m
    )
    SELECT doc_id, value,
           round(abs(value - med) / nullif(mad, 0), 6) AS robust_z,
           coalesce(round(abs(value - med) / nullif(mad, 0), 6) > 3.5, FALSE)
             AS is_outlier
    FROM vals CROSS JOIN m CROSS JOIN d
    """,
)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen on token counts: median/MAD robust z
    (heavy-tail-safe — giant pages cannot drag the cutoff the way
    they drag a mean/std) with flag at 3.5 MADs, the standard robust
    threshold. Two 1-row percentile aggregates broadcast back lazily;
    the flag is a scalar projection."""
    from .operators import curation
    from .operators.textops import token_count

    return curation.robust_outlier_filter(
        _t(spark, sf_dir, "documents"), value=token_count("text"), k=3.5
    )


@register(
    "quality_outlier_mad_continuous",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id,
             CAST(list_sum(list_transform({_TOKS}, x -> length(x))) AS DOUBLE)
               / len({_TOKS}) AS value
      FROM documents
    ), m AS (
      SELECT quantile_cont(value, 0.5) AS med FROM vals
    ), d AS (
      SELECT quantile_cont(abs(value - med), 0.5) AS mad FROM vals CROSS JOIN m
    )
    SELECT doc_id, value,
           round(abs(value - med) / nullif(mad, 0), 6) AS robust_z,
           coalesce(round(abs(value - med) / nullif(mad, 0), 6) > 3.5, FALSE)
             AS is_outlier
    FROM vals CROSS JOIN m CROSS JOIN d
    """,
)
def quality_outlier_mad_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD screen on a CONTINUOUS value (mean token length) —
    the domain where the exact-percentile merge buffer is O(rows) at
    100 TB and ``robust_outlier_filter(exact=False)`` is the scale
    path (round-7 advice item). Oracle-checked under the
    ``approx_stats_bounded`` protocol: the returned frame is the
    SQL-exact screen (hash-compared value-for-value), and before
    returning, the operator's sketch path (``percentile_approx`` at
    the default 10⁴ accuracy — rank error ≤ 10⁻⁴) is asserted inside
    the exact p45..p55 band for BOTH the median and the MAD-of-
    residuals, so a sketch regression fails the query instead of
    silently moving the production cutoff."""
    from .operators import curation
    from .operators.textops import mean_token_len

    docs = _t(spark, sf_dir, "documents")
    value = mean_token_len("text")
    vals = docs.select(value.cast("double").alias("v"))
    r1 = vals.agg(
        F.expr("percentile(v, 0.45)").alias("p45"),
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.55)").alias("p55"),
        F.percentile_approx("v", F.lit(0.5), F.lit(10000)).alias("am"),
    ).collect()[0]
    if not (r1.p45 <= r1.am <= r1.p55):
        raise AssertionError(
            f"approx median {r1.am} outside exact p45..p55 ({r1.p45}, {r1.p55})"
        )
    res = vals.select(F.abs(F.col("v") - F.lit(float(r1.p50))).alias("r"))
    r2 = res.agg(
        F.expr("percentile(r, 0.45)").alias("p45"),
        F.expr("percentile(r, 0.55)").alias("p55"),
        F.percentile_approx("r", F.lit(0.5), F.lit(10000)).alias("am"),
    ).collect()[0]
    if not (r2.p45 <= r2.am <= r2.p55):
        raise AssertionError(
            f"approx MAD {r2.am} outside exact p45..p55 ({r2.p45}, {r2.p55})"
        )
    return curation.robust_outlier_filter(docs, value=value, k=3.5)


@register(
    "quality_outlier_hdr",
    oracle=f"""
    WITH vals AS (
      SELECT doc_id, len({_TOKS}) AS v FROM documents
    ), i1 AS (
      SELECT doc_id, v,
             greatest(length(bin(v)) - 1 - 6, 0) * 64
               + v // (1::BIGINT << greatest(length(bin(v)) - 1 - 6, 0)) AS idx
      FROM vals
    ), s1 AS (
      SELECT idx, count(*) AS cnt FROM i1 GROUP BY idx
    ), c1 AS (
      SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM s1
    ), t1 AS (
      SELECT count(*) AS total FROM vals
    ), h1 AS (
      SELECT min(idx) AS idx FROM c1, t1 WHERE cum >= ceil(0.5 * total)
    ), m1 AS (
      SELECT CASE WHEN idx < 64 THEN idx
                  ELSE (idx - (idx // 64 - 1) * 64)
                       * (1::BIGINT << (idx // 64 - 1)) END AS med
      FROM h1
    ), r AS (
      SELECT doc_id, v, med, abs(v - med) AS rv FROM vals, m1
    ), i2 AS (
      SELECT rv,
             greatest(length(bin(rv)) - 1 - 6, 0) * 64
               + rv // (1::BIGINT << greatest(length(bin(rv)) - 1 - 6, 0)) AS idx
      FROM r
    ), s2 AS (
      SELECT idx, count(*) AS cnt FROM i2 GROUP BY idx
    ), c2 AS (
      SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM s2
    ), h2 AS (
      SELECT min(idx) AS idx FROM c2, t1 WHERE cum >= ceil(0.5 * total)
    ), m2 AS (
      SELECT CASE WHEN idx < 64 THEN idx
                  ELSE (idx - (idx // 64 - 1) * 64)
                       * (1::BIGINT << (idx // 64 - 1)) END AS mad
      FROM h2
    )
    SELECT doc_id, CAST(v AS DOUBLE) AS value,
           round(CAST(abs(v - med) AS DOUBLE) / nullif(CAST(mad AS DOUBLE), 0), 6)
             AS robust_z,
           coalesce(round(CAST(abs(v - med) AS DOUBLE)
                          / nullif(CAST(mad AS DOUBLE), 0), 6) > 3.5, FALSE)
             AS is_outlier
    FROM r CROSS JOIN m2
    """,
)
def quality_outlier_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAD screen with both medians read from HDR sketches — the
    MERGEABLE rung of the percentile ladder (exact = one-reducer
    value map; percentile_approx = fixed memory but opaque,
    non-maintainable state; HDR = fixed width AND additive merge, so
    a curator maintains it per batch and reads the cutoffs for free).
    Unlike the approx rung, this one is hash-checked END-TO-END: the
    pure-integer bucketing lets the oracle rebuild both sketch rounds
    (median of token counts, then median of residuals) bit-for-bit.
    Both medians are bucket lower bounds (≤2^-6 relative
    under-statement, law-tested against the exact screen)."""
    from .operators import curation
    from .operators.textops import token_count

    return curation.hdr_outlier_filter(
        _t(spark, sf_dir, "documents"), value=token_count("text"), k=3.5
    )


@register(
    "sim_embedding_drift",
    oracle="""
    WITH ea AS (
      SELECT unnest(range(len(embedding))) AS dim, unnest(embedding) AS v
      FROM embeddings WHERE vec_id % 2 = 0
    ), eb AS (
      SELECT unnest(range(len(embedding))) AS dim, unnest(embedding) AS v
      FROM embeddings WHERE vec_id % 2 = 1
    ), sa AS (
      SELECT dim, avg(v) AS a_mean, stddev_samp(v) AS a_std FROM ea GROUP BY dim
    ), sb AS (
      SELECT dim, avg(v) AS b_mean FROM eb GROUP BY dim
    ), j AS (
      SELECT sa.dim, a_mean, a_std, b_mean FROM sa JOIN sb USING (dim)
    ), per_dim AS (
      SELECT CAST(dim AS INT) AS dim,
             round(a_mean, 6) AS a_mean, round(b_mean, 6) AS b_mean,
             round(b_mean - a_mean, 6) AS delta,
             round(abs(b_mean - a_mean) / nullif(a_std, 0), 6) AS shift_z
      FROM j
    ), summary AS (
      SELECT CAST(-1 AS INT) AS dim,
             CAST(NULL AS DOUBLE) AS a_mean, CAST(NULL AS DOUBLE) AS b_mean,
             CAST(NULL AS DOUBLE) AS delta,
             round(sum(a_mean * b_mean)
                   / nullif(sqrt(sum(a_mean * a_mean)) * sqrt(sum(b_mean * b_mean)), 0),
                   6) AS shift_z
      FROM j
    )
    SELECT * FROM per_dim UNION ALL SELECT * FROM summary
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor between two populations
    (here: even- vs odd-id halves of the embeddings table, standing in
    for indexed-corpus vs new-crawl): per-dimension mean shift and
    z-like magnitude plus a mean-vector-cosine summary row — the
    cheap per-batch signal that schedules ivf_rebalance_index before
    probe latency degrades. One D-keyed partial-aggregated pass per
    side; nothing corpus-scale shuffles."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        dim=64,
    )


@register(
    "pipeline_quality_dedup",
    oracle=_logreg_cte(iters=6, lr=2.0)
    + """
    , kept AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN scored USING (doc_id) WHERE scored.keep
    )
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM kept GROUP BY md5(text)
    """,
)
def pipeline_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage curation pipeline under ONE hash gate: the learned
    quality filter (full GD fit, see quality_classifier_scores) gates
    the corpus, then exact dedup runs over the survivors — the
    filter-then-dedup ordering every production pipeline uses (dedup
    cost scales with what survives the cheap filter). The oracle
    replays the entire chain: standardization CTEs → unrolled GD →
    threshold filter → md5 group-by."""
    from .operators import classifier, dedup

    docs = _t(spark, sf_dir, "documents")
    scored = classifier.quality_classifier_scores(
        docs, label=F.length("text") >= 400, iters=6, lr=2.0
    )
    kept = docs.join(
        scored.filter(F.col("keep")).select("doc_id"), "doc_id", "semi"
    )
    return dedup._register_cached(
        dedup.exact_dedup(kept), *getattr(scored, "_pwp_cached", ())
    )


@register(
    "dsir_importance_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
             unnest({_TOKS}) AS term
      FROM documents
    ), tf AS (
      SELECT term, count(*) AS tf, sum(is_t) AS tf_t FROM toks GROUP BY term
    ), tot AS (
      SELECT sum(tf) AS n_all, sum(tf_t) AS n_t, count(*) AS v FROM tf
    ), lw AS (
      SELECT term,
             round(ln(CAST(tf_t + 1 AS DOUBLE) / (n_t + v))
                   - ln(CAST(tf - tf_t + 1 AS DOUBLE) / (n_all - n_t + v)),
                   8) AS lw
      FROM tf CROSS JOIN tot
    ), scores AS (
      SELECT doc_id, count(*) AS n_tokens, round({sql_dsum("lw")}, 6) AS logratio
      FROM toks JOIN lw USING (term) GROUP BY doc_id
    ), keyed AS (
      SELECT doc_id, n_tokens, logratio,
             round(logratio, 6)
               + round(-ln(-ln(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir:42'), 1, 8))
                         AS UBIGINT) + 1.0) / 4294967298.0)), 8) AS sample_key
      FROM scores
    )
    SELECT doc_id, n_tokens, logratio, sample_key,
           CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id) AS INT) AS rnk
    FROM keyed QUALIFY rnk <= 100
    """,
)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, public): importance
    logratio of each document under the target slice (source='src0')
    vs the rest, then Gumbel-top-k resampling (k=100) — sampling
    without replacement ∝ exp(logratio), with the Gumbel noise a pure
    seeded function of doc_id (portable md5 uniform), so the draw is
    reproducible across runs AND engines. Shape: one exploded token
    table → vocabulary-sized (tf, tf_target) agg → broadcast log-weight
    join → per-doc exact decimal sum → scalar-projection sample keys →
    TakeOrdered. Per-term log-weights and Gumbel values round to 8
    before summing, the unigram_logprob protocol."""
    from .operators import curation

    scores = curation.dsir_importance_scores(
        _t(spark, sf_dir, "documents"), target=F.col("source") == "src0"
    )
    return curation.dsir_resample_topk(scores, k=100, seed="42")


@register(
    "dsir_hashed_topk",
    oracle=f"""
    WITH base AS (
      -- doc_id IS NOT NULL mirrors the operator's uniform guard at
      -- its shared tokenization exchange (no declared fixture has
      -- NULL ids — canary-pinned; the clause only aligns contracts)
      SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
             {_TOKS} AS t
      FROM documents
      WHERE doc_id IS NOT NULL
    ), gr AS (
      SELECT doc_id, is_t,
             unnest(list_concat(t,
               CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i+1])
                    ELSE [] END)) AS g
      FROM base
    ), toks AS (
      SELECT doc_id, is_t,
             CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % 10000
                  AS BIGINT) AS term
      FROM gr
    ), tf AS (
      SELECT term, count(*) AS tf, sum(is_t) AS tf_t FROM toks GROUP BY term
    ), tot AS (
      SELECT sum(tf) AS n_all, sum(tf_t) AS n_t, count(*) AS v FROM tf
    ), lw AS (
      SELECT term,
             round(ln(CAST(tf_t + 1 AS DOUBLE) / (n_t + v))
                   - ln(CAST(tf - tf_t + 1 AS DOUBLE) / (n_all - n_t + v)),
                   8) AS lw
      FROM tf CROSS JOIN tot
    ), scores AS (
      SELECT doc_id, count(*) AS n_tokens, round({sql_dsum("lw")}, 6) AS logratio
      FROM toks JOIN lw USING (term) GROUP BY doc_id
    ), keyed AS (
      SELECT doc_id, n_tokens, logratio,
             round(logratio, 6)
               + round(-ln(-ln(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir:42'), 1, 8))
                         AS UBIGINT) + 1.0) / 4294967298.0)), 8) AS sample_key
      FROM scores
    )
    SELECT doc_id, n_tokens, logratio, sample_key,
           CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id) AS INT) AS rnk
    FROM keyed QUALIFY rnk <= 100
    """,
)
def dsir_hashed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR over HASHED N-GRAM buckets (round 7 — the paper's actual
    feature space, Xie et al. 2023 §3.1: unigrams + bigrams hashed
    into 10k buckets). Same importance-resampling chain as
    ``dsir_importance_topk`` but the per-term table is bucket-keyed,
    which is the scale contract: the broadcast log-weight side is
    ≤ 10k rows at ANY corpus size by construction, where a raw
    vocabulary is unbounded on real text (this fixture's generator
    caps its vocab, so the round-7 probe pins the bucket side
    instead: 903 observed buckets at sf0.01 → 917 at sf0.1, flat,
    bound 10k always). Bucket hash = the engine-portable md5 uniform,
    so DuckDB replays the draw bit-exactly; Gumbel-top-k resampling
    unchanged."""
    from .operators import curation

    scores = curation.dsir_importance_scores(
        _t(spark, sf_dir, "documents"), target=F.col("source") == "src0",
        features="hashed_ngrams", n_buckets=10_000,
    )
    return curation.dsir_resample_topk(scores, k=100, seed="42")


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOKS} AS t FROM documents
    ), items AS (
      SELECT unnest(t) AS tok FROM toks
    ), rb AS (
      SELECT tok, i,
             CAST(CAST(('0x' || substr(md5(tok || ':cms:' || CAST(i AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 16 AS BIGINT) AS bucket
      FROM items CROSS JOIN (SELECT unnest(range(4)) AS i)
    ), sk AS (
      SELECT i, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT tok FROM items
    ), pb AS (
      SELECT tok, i,
             CAST(CAST(('0x' || substr(md5(tok || ':cms:' || CAST(i AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 16 AS BIGINT) AS bucket
      FROM probes CROSS JOIN (SELECT unnest(range(4)) AS i)
    ), est AS (
      SELECT tok, min(coalesce(cnt, 0)) AS est
      FROM pb LEFT JOIN sk USING (i, bucket) GROUP BY tok
    )
    SELECT tok, est, CAST(row_number() OVER (ORDER BY est DESC, tok) AS INT) AS rn
    FROM est QUALIFY rn <= 20
    """,
)
def sketch_cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (round 7): top-20 tokens by CMS
    estimate over a deliberately tight 4x16 geometry (the fixture
    vocabulary exceeds the width, so real collisions are exercised —
    and reproduced bit-for-bit by the oracle, because the bucket hash
    is the engine-portable md5 uniform). The sketch is the
    FIXED-WIDTH alternative to exact frequency tables at 100 TB:
    additive across batches (maintained like the curator's (g, df)
    tier but with depth*width cells at any corpus size) and
    never-undercounting, so frequency-cap screens stay conservative.
    Plan: one corpus scan -> map-side-combined (row, bucket) agg
    bounded at depth*width per task; estimates via a broadcast join
    of the fixed-width sketch; final cut TakeOrdered."""
    from .operators import sketch, textops

    # input spread (round 13, guide §2.5): exact integer bucket
    # counts, spread-safe; identity at scale
    d = _td(spark, sf_dir)
    items = d.select(F.explode(textops.tokens(F.col("text"))).alias("tok"))
    return sketch.cms_heavy_hitters(items, key="tok", k=20, depth=4, width=16)


@register(
    "sketch_topk_ngrams",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT t[i+1] || ' ' || t[i+2] AS g
      FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS ii(i)
    ), cnt AS (
      SELECT g, count(*) AS cnt FROM grams GROUP BY g
    )
    SELECT g, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, g) AS INT) AS rn
    FROM cnt QUALIFY rn <= 20
    """,
)
def sketch_topk_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-20 word bigrams without shuffling the gram TYPE
    table (round 10): per-partition candidate generation after
    SpaceSaving (Metwally et al. 2005) — an Arrow kernel emits each
    partition's top-512 keys plus its provable miss bound — then an
    exact recount of candidates only, via broadcast semi-join. The
    result is EXACT (the oracle is the plain groupBy top-k) and
    PROVEN: the operator raises unless the k-th exact count exceeds
    the summed per-partition miss bounds, so it can never silently
    return an approximation. The 100 TB contract: the corpus-wide
    gram exchange (the cost that kills groupBy(g) at scale) is
    replaced by a P×512-row candidate exchange + two scans; the CMS
    sibling is fixed-width but approximate — this one is exact with
    bounded state. Eager by design (candidate + bound + k-row
    collects, all bounded by construction; see the lazy-build-gate
    allowlist entry)."""
    from .operators import sketch, textops

    d = _t(spark, sf_dir, "documents")
    base = d.select(textops.tokens(F.col("text")).alias("_t"))
    items = base.select(
        F.explode(textops._grams_multiset(F.col("_t"), 2)).alias("g")
    )
    return sketch.topk_exact_candidates(items, key="g", k=20, capacity=512)


# HLL oracle fragments (m=64). The estimator's floating-point terms
# are PYTHON-COMPUTED literals embedded identically in both engines
# (repr round-trips doubles), so the estimate is bit-identical: the
# only runtime float ops are one exact-integer sum and one division.
# 0.709 is alpha_64 (Flajolet et al. 2007); 562949953421312 = 2^49.
_HLL_NUMER = repr(0.709 * 64 * 64 * float(2**49))
_HLL_LC = " ".join(f"WHEN {v} THEN {64 * math.log(64 / v)!r}" for v in range(1, 64))


@register(
    "sketch_hll_distinct",
    oracle=f"""
    WITH toks AS (
      SELECT lang, {_TOKS} AS t FROM documents
    ), items AS (
      SELECT lang, unnest(t) AS tok FROM toks
    ), rb AS (
      SELECT lang,
             CAST(CAST(('0x' || substr(md5(tok || ':hllb'), 1, 8))
                  AS UBIGINT) % 64 AS BIGINT) AS bucket,
             CAST(('0x' || substr(md5(tok || ':hllr'), 1, 12)) AS UBIGINT) AS h2
      FROM items
    ), reg AS (
      SELECT lang, bucket,
             max(CASE WHEN h2 = 0 THEN 49 ELSE 49 - length(bin(h2)) END) AS mreg
      FROM rb GROUP BY 1, 2
    ), agg AS (
      SELECT lang, count(*) AS nf,
             coalesce(sum(CAST(round(pow(2, 49 - mreg)) AS BIGINT)), 0) AS sf
      FROM reg GROUP BY 1
    ), est AS (
      SELECT lang,
             CASE WHEN nf = 0 THEN 0.0
                  WHEN {_HLL_NUMER} / CAST(sf + (64 - nf) * 562949953421312 AS DOUBLE)
                         <= 160.0 AND 64 - nf > 0
                  THEN CASE 64 - nf {_HLL_LC} END
                  ELSE {_HLL_NUMER} / CAST(sf + (64 - nf) * 562949953421312 AS DOUBLE)
             END AS est_toks
      FROM agg
    ), ex AS (
      SELECT lang, count(DISTINCT tok) AS exact_toks FROM items GROUP BY 1
    )
    SELECT lang, est_toks, exact_toks FROM est JOIN ex USING (lang)
    """,
)
def sketch_hll_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token count per language (round 7), the
    exact count(DISTINCT) alongside for self-evidencing error. m=64
    registers per group is the FIXED-WIDTH alternative to the exact
    distinct shuffle at 100 TB (every distinct token travels once in
    the exact form; 64 rows per group travel in the sketch form), and
    the register-max merge is idempotent, so per-batch sketches fold
    at compaction into exactly the one-shot sketch. The whole
    estimator is hash-checked: register placement is the portable md5
    uniform, rho is string-length integer math, and every
    floating-point constant (alpha_64*m^2*2^49, the linear-counting
    table) is ONE Python-computed literal embedded in both engines.
    Plan: one scan -> map-side-combined (lang, bucket) max-agg
    bounded at 64 rows/group/task; the exact column is the
    demonstration baseline, not part of the sketch cost."""
    from .operators import sketch, textops

    # input spread (round 13, guide §2.5): the register-placement
    # md5 ladder runs per token inside the scan stage — single-task on
    # the one-row-group fixture without it; identity at scale. Exact
    # integer max/count aggregation, spread-safe.
    d = _td(spark, sf_dir)
    items = d.select("lang", F.explode(textops.tokens(F.col("text"))).alias("tok"))
    est = sketch.hll_distinct(items, key="tok", m=64, group_cols=["lang"])
    exact = items.groupBy("lang").agg(F.count_distinct(F.col("tok")).alias("exact_toks"))
    return est.join(exact, "lang").select(
        "lang", F.col("est").alias("est_toks"), "exact_toks"
    )


def _sql_hll_est(reg: str, out: str) -> str:
    """agg+estimate CTE pair over a register CTE ``reg`` — the
    sketch_hll_distinct estimator fragment, factored so the set-
    algebra oracle can instantiate it per side without drift."""
    return f"""agg_{out} AS (
      SELECT count(*) AS nf,
             coalesce(sum(CAST(round(pow(2, 49 - mreg)) AS BIGINT)), 0) AS sf
      FROM {reg}
    ), {out} AS (
      SELECT CASE WHEN nf = 0 THEN 0.0
                  WHEN {_HLL_NUMER} / CAST(sf + (64 - nf) * 562949953421312 AS DOUBLE)
                         <= 160.0 AND 64 - nf > 0
                  THEN CASE 64 - nf {_HLL_LC} END
                  ELSE {_HLL_NUMER} / CAST(sf + (64 - nf) * 562949953421312 AS DOUBLE)
             END AS est
      FROM agg_{out}
    )"""


@register(
    "sketch_hll_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, {_TOKS} AS t FROM documents
      WHERE source IN ('src0', 'src1')
    ), items AS (
      SELECT source, t[i] || ' ' || t[i + 1] AS tok
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), rb AS (
      SELECT source,
             CAST(CAST(('0x' || substr(md5(tok || ':hllb'), 1, 8))
                  AS UBIGINT) % 64 AS BIGINT) AS bucket,
             CAST(('0x' || substr(md5(tok || ':hllr'), 1, 12)) AS UBIGINT) AS h2
      FROM items
    ), reg_a AS (
      SELECT bucket,
             max(CASE WHEN h2 = 0 THEN 49 ELSE 49 - length(bin(h2)) END) AS mreg
      FROM rb WHERE source = 'src0' GROUP BY 1
    ), reg_b AS (
      SELECT bucket,
             max(CASE WHEN h2 = 0 THEN 49 ELSE 49 - length(bin(h2)) END) AS mreg
      FROM rb WHERE source = 'src1' GROUP BY 1
    ), reg_u AS (
      SELECT bucket,
             max(CASE WHEN h2 = 0 THEN 49 ELSE 49 - length(bin(h2)) END) AS mreg
      FROM rb GROUP BY 1
    ), {_sql_hll_est("reg_a", "ea")}, {_sql_hll_est("reg_b", "eb")},
       {_sql_hll_est("reg_u", "eu")}
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           round(greatest(ea.est + eb.est - eu.est, 0.0), 6) AS est_intersect,
           CASE WHEN eu.est > 0
                THEN round(greatest(ea.est + eb.est - eu.est, 0.0) / eu.est, 6)
           END AS est_jaccard
    FROM ea, eb, eu
    """,
)
def sketch_hll_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (round 7): shared BIGRAM vocabulary between the
    src0 and src1 domains (bigrams, not unigrams — the fixture's
    unigram vocab is fully shared, bigram sets genuinely diverge:
    ~715/730 distinct per side, 866 union) — union by register-max
    (exact at sketch level: merge == one-shot sketch of the union,
    the idempotent law), intersection by inclusion-exclusion, Jaccard
    on the estimates (Flajolet et al. 2007 §5). The cross-domain
    overlap monitor at 100 TB: per-side state is 64 registers
    whatever the corpus size, the estimates are 1-row aggregates, and
    the combination is a broadcast of three 1-row frames. Hash-checked
    end to end because every register and every float constant is
    engine-exact (the sketch_hll_distinct portability contract)."""
    from .operators import sketch, textops

    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("source").isin("src0", "src1")).select(
        "source", textops.tokens(F.col("text")).alias("_t")
    )
    t = F.col("_t")
    items = base.select(
        "source",
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - 2),
                    lambda i: F.concat(
                        F.element_at(t, i + 1), F.lit(" "), F.element_at(t, i + 2)
                    ),
                ),
            ).otherwise(F.expr("cast(array() as array<string>)"))
        ).alias("tok"),
    )
    sk_a = sketch.hll_build(items.filter(F.col("source") == "src0"), key="tok", m=64)
    sk_b = sketch.hll_build(items.filter(F.col("source") == "src1"), key="tok", m=64)
    return sketch.hll_set_algebra(sk_a, sk_b, m=64)


@register(
    "sketch_hdr_quantiles",
    oracle="""
    WITH vals AS (
      SELECT lang, n_chars AS v FROM documents
    ), bkt AS (
      SELECT lang, v, greatest(length(bin(v)) - 1 - 4, 0) AS shift FROM vals
    ), idxed AS (
      SELECT lang, v, shift * 16 + v // (1::BIGINT << shift) AS idx FROM bkt
    ), sk AS (
      SELECT lang, idx, count(*) AS cnt FROM idxed GROUP BY lang, idx
    ), cum AS (
      SELECT lang, idx, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY idx) AS cum
      FROM sk
    ), tot AS (
      SELECT lang, count(*) AS total FROM vals GROUP BY lang
    ), qs AS (
      SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q
    ), hit AS (
      SELECT c.lang, q.q, min(c.idx) AS idx
      FROM cum c JOIN tot t ON c.lang = t.lang CROSS JOIN qs q
      WHERE c.cum >= ceil(q.q * t.total)
      GROUP BY c.lang, q.q
    ), est AS (
      SELECT lang, q,
             CASE WHEN idx < 16 THEN idx
                  ELSE (idx - (idx // 16 - 1) * 16)
                       * (1::BIGINT << (idx // 16 - 1))
             END AS est
      FROM hit
    ), rn AS (
      SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn
      FROM vals
    ), exact AS (
      SELECT r.lang, q.q, min(r.v) AS exact_q
      FROM rn r JOIN tot t ON r.lang = t.lang CROSS JOIN qs q
      WHERE r.rn = ceil(q.q * t.total)
      GROUP BY r.lang, q.q
    )
    SELECT e.lang, e.q, e.est, x.exact_q
    FROM est e JOIN exact x ON e.lang = x.lang AND e.q = x.q
    """,
)
def sketch_hdr_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantiles per language (round 7, completing the
    sketch quartet: CMS frequency / HLL cardinality / Bloom
    membership / HDR QUANTILES): p50/p90/p99 of document length from
    the fixed-width mergeable histogram, the exact ceil-rank quantile
    alongside for self-evidencing error. sub_bits=4 ⇒ ≤6.25% relative
    error from ≤ ~800 buckets per group at ANY corpus size — the
    bounded-memory, per-batch-maintainable alternative to BOTH the
    exact-percentile one-task value map (the ``robust_outlier_filter``
    hazard) AND non-mergeable approx sketches. Bucketing is PURE
    INTEGER arithmetic (exponent = base-2 digit-string length, never a
    float log), so the oracle rebuilds every bucket — and therefore
    every estimate — bit-for-bit. The exact column is the
    demonstration baseline (a per-group sort), not part of the sketch
    cost: the sketch side is one scan + a map-side-combined agg
    bounded at sketch width per task."""
    from pyspark.sql import Window

    from .operators import sketch

    d = _t(spark, sf_dir, "documents")
    vals = d.select("lang", F.col("n_chars").cast("long").alias("v"))
    qs = [0.5, 0.9, 0.99]
    sk = sketch.hdr_build(vals, "v", group_cols=["lang"], sub_bits=4)
    est = sketch.hdr_quantiles(sk, qs, group_cols=["lang"], sub_bits=4)
    win = Window.partitionBy("lang").orderBy("v")
    rn = vals.withColumn("rn", F.row_number().over(win))
    tot = vals.groupBy("lang").agg(F.count(F.lit(1)).alias("total"))
    exact = (
        rn.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "v",
            "rn",
            "total",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("total")))
        .groupBy("lang", "q")
        .agg(F.min("v").alias("exact_q"))
    )
    return est.join(exact, ["lang", "q"]).select("lang", "q", "est", "exact_q")


@register(
    "text_bloom_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM toks WHERE len(w) >= 3
    ), bench AS (
      SELECT DISTINCT g FROM g WHERE doc_id % 83 = 0
    ), corp AS (
      SELECT doc_id, g FROM g WHERE doc_id % 83 <> 0
    ), bloom AS (
      SELECT DISTINCT CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM bench CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), probe AS (
      SELECT doc_id, g, i,
             CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM corp CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), hits AS (
      SELECT doc_id, g FROM probe JOIN bloom USING (pos)
      GROUP BY doc_id, g HAVING count(DISTINCT i) = 3
    ), nb AS (
      SELECT doc_id, count(*) AS n_bloom_hits FROM hits GROUP BY doc_id
    ), ne AS (
      SELECT doc_id, count(*) AS n_exact_hits FROM corp
      WHERE g IN (SELECT g FROM bench) GROUP BY doc_id
    )
    SELECT doc_id, n_bloom_hits, coalesce(n_exact_hits, 0) AS n_exact_hits
    FROM nb LEFT JOIN ne USING (doc_id)
    """,
)
def text_bloom_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen (round 7): per-doc count of
    3-gram shingles that MAYBE hit the benchmark set (every 83rd doc,
    the ``text_benchmark_contamination`` fixture) through a
    m=2^17/k=3 Bloom filter, with the exact hit count alongside. The
    filter is the 100 TB shape of the screen: membership state is
    bounded at m_bits positions however large the benchmark grows
    (the exact form's build side grows with the benchmark shingle
    set), the probe side tests via k chained broadcast joins with NO
    corpus shuffle before the per-doc count, and the one-sided error
    runs the safe direction — n_bloom_hits >= n_exact_hits on every
    row (no contaminated gram ever slips through; the oracle
    reproduces the false positives bit-for-bit because the position
    hash is the portable md5 uniform)."""
    from .operators import sketch, textops

    # input spread (round 13, guide §2.5): the tokenize+gram build
    # below the shared doc_id exchange rode ONE task on the single-
    # row-group fixture (967 ms stage); spread first and it computes
    # across defaultParallelism between the two exchanges; identity
    # at scale. Exact integer hit counts, spread-safe.
    docs = _td(spark, sf_dir)
    # one doc_id exchange shared by all four gram consumers (bench
    # distinct, bloom probe, exact semi both sides) — AQE stage reuse;
    # measured ~2.2 s -> ~1.4 s at sf0.1
    grams = textops.exploded_ngrams(docs, n=3).repartition("doc_id")
    bench_g = grams.filter(F.col("doc_id") % 83 == 0).select("g").distinct()
    corp_g = grams.filter(F.col("doc_id") % 83 != 0)
    bl = sketch.bloom_build(bench_g, key="g", m_bits=131072, k=3)
    tested = sketch.bloom_contains(bl, corp_g, key="g", m_bits=131072, k=3)
    nb = (
        tested.filter(F.col("maybe_member"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    ne = (
        corp_g.join(F.broadcast(bench_g), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    return nb.join(ne, "doc_id", "left").select(
        "doc_id",
        "n_bloom_hits",
        F.coalesce("n_exact_hits", F.lit(0).cast("long")).alias("n_exact_hits"),
    )


@register(
    "audit_dataset_fingerprint",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(CAST(('0x' || substr(md5(
             concat_ws(chr(31),
               coalesce(CAST(o_orderkey AS VARCHAR), chr(0)),
               coalesce(CAST(o_custkey AS VARCHAR), chr(0)),
               coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
               coalesce(CAST(o_totalprice AS VARCHAR), chr(0)),
               coalesce(CAST(o_orderdate AS VARCHAR), chr(0)))), 1, 15))
           AS UBIGINT) AS HUGEINT)) AS VARCHAR) AS fp
    FROM orders
    """,
)
def audit_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset content fingerprint (data-versioning audit primitive):
    order/partitioning-insensitive 60-bit-md5 decimal sum over the
    orders table's canonical row serialization — verifies a copy or
    migration preserved content without moving either side; one
    map-side-combined aggregate, engine-portable by construction
    (the oracle recomputes it bit-for-bit)."""
    from .operators import layout

    return layout.dataset_fingerprint(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


@register(
    "audit_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id,
             substr(md5(concat_ws(chr(31),
               coalesce(CAST(text AS VARCHAR), chr(0)),
               coalesce(CAST(lang AS VARCHAR), chr(0)),
               coalesce(CAST(source AS VARCHAR), chr(0)))), 1, 15) AS hash_a
      FROM documents
    ), bsrc AS (
      SELECT doc_id,
             CASE WHEN doc_id % 89 = 0 THEN text || ' [v2]' ELSE text END AS text,
             lang, source
      FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 10000000, 'new ' || text, lang, source
      FROM documents WHERE doc_id % 101 = 0
    ), b AS (
      SELECT doc_id,
             substr(md5(concat_ws(chr(31),
               coalesce(CAST(text AS VARCHAR), chr(0)),
               coalesce(CAST(lang AS VARCHAR), chr(0)),
               coalesce(CAST(source AS VARCHAR), chr(0)))), 1, 15) AS hash_b
      FROM bsrc
    )
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.doc_id IS NULL THEN 'added'
                ELSE 'changed' END AS status,
           hash_a, hash_b
    FROM a FULL JOIN b ON a.doc_id = b.doc_id
    WHERE b.doc_id IS NULL OR a.doc_id IS NULL OR hash_a <> hash_b
    """,
)
def audit_snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (round 7): WHAT diverged between two dataset
    versions — added / removed / changed doc ids with canonical row
    hashes — the follow-up question after ``audit_dataset_fingerprint``
    says two snapshots differ. Snapshot B is derived deterministically
    from the documents table in BOTH engines (every 97th id removed,
    every 89th survivor's text edited, every 101st re-ingested under a
    new id). Plan: (key, hash) projection per side + ONE full outer
    join — the minimum movement a keyed diff admits (zero if both
    snapshots are key-bucketed)."""
    from .operators import layout

    docs = _t(spark, sf_dir, "documents")
    b = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")).alias("text"),
        "lang",
        "source",
    ).unionByName(
        docs.filter(F.col("doc_id") % 101 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("new "), F.col("text")).alias("text"),
            "lang",
            "source",
        )
    )
    return layout.snapshot_diff(docs, b, "doc_id", ["text", "lang", "source"])


MULTIMODAL_GOLDEN = os.path.join(_FIXDIR, "multimodal_features_golden.parquet")


@register(
    "multimodal_features_checked",
    oracle=f"""
    SELECT media_id, modality, fmt, payload_bytes,
           round(feat_norm, 6) AS feat_norm
    FROM read_parquet('{MULTIMODAL_GOLDEN}')
    """,
)
def multimodal_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked twin for the multimodal family (round 6, the
    fold-golden pattern): the full encode → Arrow-batched decode
    (real BMP/WAV/y4m codecs; mp4 honest deterministic stub) →
    feature pipeline, compared against a committed golden computed
    PURELY LOCALLY (scripts/gen_multimodal_golden.py — numpy, no
    Spark). Returns exact oracle-comparable columns: payload byte
    size plus the rounded L2 norm of the 16-dim feature vector; a
    driver hash-pass proves the distributed codec plumbing reproduces
    the independently materialized artifact bit-for-bit."""
    from .operators import multimodal as mm

    _prep(spark)
    media = mm.synthetic_media(spark, n=64, seed=42)
    feats = mm.extract_features(media)
    meta = media.select("media_id", "fmt", F.length("payload").alias("payload_bytes"))
    norm = F.sqrt(
        F.aggregate(F.transform("feat", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return (
        feats.select("media_id", "modality", F.round(norm, 6).alias("feat_norm"))
        .join(meta, "media_id")
        .select("media_id", "modality", "fmt", "payload_bytes", "feat_norm")
    )


@register("sim_ivf_topk", oracle=None)
def sim_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN (coarse k-means quantizer, nprobe cells scored):
    the index of choice when embeddings have cluster structure; on
    this (random) corpus recall ≈ probed fraction — asserted against
    clustered data in tests."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        spark, corpus=emb, queries=emb.filter(F.col("vec_id") < 10),
        k=10, n_cells=16, nprobe=4,
    )


# ---------------------------------------------------------------------
# Hash-checked ANN twins. The rows-only sim_ivf_topk / sim_lsh_topk
# queries get oracle-checked companions on a CLUSTERED fixture both
# engines derive deterministically from the embeddings table:
# cluster c = vec_id % 8, vector = one_hot(8c) + 0.05 * embedding.
# Geometry: centers are orthogonal unit vectors, the jitter norm is
# ~0.1, so within-cluster cosine is ~0.99 and cross-cluster ~|0.01| —
# every true top-5 neighbor is in the query's own cluster (>=62
# members per cluster at every SF). The ANN methods' candidate sets
# provably cover the cluster (IVF: near-identical vectors land in the
# same k-means cell whatever the fit, and the query probes it first;
# LSH: 16 tables x 4 planes ⇒ P(miss a ~0.99-similar pair) < 1e-9,
# and the pipeline is seeded/deterministic) — so candidates ⊇ exact
# top-5 and the candidate-restricted exact re-score EQUALS the exact
# top-5: the recall property becomes a value-hash equality the driver
# checks, not a rows-only count.


def _ann_clustered_oracle(k: int = 5) -> str:
    return f"""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, vec AS cv FROM v
    ), scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
      FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


def _clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the clustered fixture (same expression as the
    oracle CTE ``v``, 1-based positions in both engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    ctr = (F.col("vec_id") % 8) * 8 + 1
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.when(i == ctr, F.lit(1.0)).otherwise(F.lit(0.0))
        + F.lit(0.05) * F.element_at(F.col("embedding"), i).cast("double"),
    )
    return emb.select("vec_id", vec.alias("embedding"))


@register("sim_ivf_topk_clustered", oracle=_ann_clustered_oracle())
def sim_ivf_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN under the driver's HASH gate: on the clustered
    fixture the probed cells provably contain every true neighbor, so
    the IVF result must equal the oracle's exact cosine top-5 —
    value-for-value, not just row counts. Rank protocol: round(sim,6)
    with neighbor_id tiebreak, like the exact sim queries."""
    from .operators import similarity

    v = _clustered_embeddings(spark, sf_dir)
    return similarity.ivf_topk(
        spark, corpus=v, queries=v.filter(F.col("vec_id") < 10),
        k=5, n_cells=8, nprobe=4, round_to=6,
    )


@register("sim_lsh_topk_clustered", oracle=_ann_clustered_oracle())
def sim_lsh_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN under the driver's HASH gate: seeded
    deterministic planes; on the clustered fixture the 16-table union
    of bucket collisions covers the query's cluster, so the
    candidate-restricted exact re-score must equal the oracle's exact
    cosine top-5."""
    from .operators import similarity

    v = _clustered_embeddings(spark, sf_dir)
    return similarity.lsh_topk(
        spark, corpus=v, queries=v.filter(F.col("vec_id") < 10),
        dim=64, k=5, num_planes=4, num_tables=16, round_to=6,
    )


@register("sim_multiprobe_topk_clustered", oracle=_ann_clustered_oracle())
def sim_multiprobe_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH under the driver's HASH gate (round 7): SAME
    exact-top-5 answer as sim_lsh_topk_clustered, from a 6-table
    index instead of 16 — Hamming-1 query-side probing recovers the
    recall the dropped tables carried (within-cluster pairs at
    cosine ~0.99 land within 1 sign bit with p ~0.988 per table;
    missing all 6 probed tables ~2e-12 per pair, so candidates cover
    the exact top-5 deterministically-for-practical-purposes and the
    re-score hashes equal). The index-side signature table is
    byte-identical to single-probe's — the 2.7x storage saving is
    the point at 100 TB."""
    from .operators import similarity

    v = _clustered_embeddings(spark, sf_dir)
    return similarity.multiprobe_lsh_topk(
        spark, corpus=v, queries=v.filter(F.col("vec_id") < 10),
        dim=64, k=5, num_planes=4, num_tables=6, probe_bits=1, round_to=6,
    )


@register(
    "dedup_embedding_lsh_clustered",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.vec, b.vec)
                   / (sqrt(list_dot_product(a.vec, a.vec))
                      * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
    """,
)
def dedup_embedding_lsh_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH embedding near-dup pipeline under the
    driver's HASH gate: on the clustered fixture every qualifying
    pair (within-cluster cosine ~0.99 ≥ 0.9) collides in ≥1 of the
    16 sign-pattern tables with probability 1 - ~6e-13, so the
    candidates-only pipeline must return EXACTLY the all-pairs
    oracle's qualifying set — the recall property of
    `dedup_embedding_lsh` (rows-only on the weak-similarity fixture,
    recall ≥0.9 asserted in tests) becomes a value-hash equality
    here, the same promotion `dedup_minhash_identical` gives the
    MinHash family."""
    from .operators import dedup

    v = _clustered_embeddings(spark, sf_dir)
    return dedup.embedding_cosine_pairs_lsh(
        v, dim=64, threshold=0.9, num_planes=4, num_tables=16
    )


@register(
    "dedup_embedding_lsh_auto_clustered",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.vec, b.vec)
                   / (sqrt(list_dot_product(a.vec, a.vec))
                      * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
    """,
)
def dedup_embedding_lsh_auto_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-GEOMETRY embedding-LSH pipeline under the driver's
    HASH gate (r7 verdict #4) — the same promotion
    ``dedup_embedding_lsh_clustered`` gives the fixed geometry:
    ``lsh_auto_geometry`` sizes (planes, tables) from the footer
    row count, the multi-table signature/candidate/verify pipeline
    runs at threshold 0.9 on the clustered fixture, and the result
    must EQUAL the all-pairs oracle's qualifying set value-for-value.

    Coverage is provable, not hoped: the sizing rule is called with
    ``target_recall = 1 - 1e-6`` (the same parametric rule, tuned to
    the proof obligation a hash gate carries — the production 0.9
    operating point stays benched via ``dedup_embedding_lsh_auto``).
    At the driver's N=500 it yields 6 planes / 28 tables; a
    within-cluster pair (cosine ~0.99, per-plane agreement 0.955)
    misses ALL tables with probability (1 - 0.955^6)^28 ~ 5e-18 —
    ~1e-13 over the fixture's ~16k qualifying pairs. Cross-cluster
    pairs (~cos 0.01) can collide but never survive the exact
    verify."""
    from .operators import dedup
    from .operators.similarity import lsh_auto_geometry

    v = _clustered_embeddings(spark, sf_dir)
    planes, tables = lsh_auto_geometry(
        _meta_rowcount(sf_dir, "embeddings"),
        threshold=0.9,
        target_recall=1 - 1e-6,
    )
    return dedup.embedding_cosine_pairs_lsh(
        v, dim=64, threshold=0.9, num_planes=planes, num_tables=tables
    )


@register(
    "dedup_incremental_embedding",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.vec, b.vec)
                   / (sqrt(list_dot_product(a.vec, a.vec))
                      * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
      FROM v a JOIN v b
        ON a.vec_id < b.vec_id AND (a.vec_id < 100 OR b.vec_id < 100)
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.9
    """,
)
def dedup_incremental_embedding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-cosine dedup under the driver's HASH
    gate: vectors ≥100 form the indexed corpus ((vec, norm) + 16-table
    hyperplane sig tables, the `write_embedding_index` layout); the
    <100 batch is screened against it — the crawl-loop shape for
    embedded corpora, where per-batch cost scales with bucket
    collisions, never the corpus. On the clustered fixture every
    qualifying pair (within-cluster cosine ~0.99 ≥ 0.9) collides in
    ≥1 of the 16 tables with probability 1 - ~6e-13, so the screen's
    output must EQUAL the oracle's exact touching-new pair set —
    value-hash, not rows-only. Cross-cluster pairs (~0.01) can collide
    but never survive the exact verify."""
    from .operators import dedup

    v = _clustered_embeddings(spark, sf_dir)
    corpus = v.filter(F.col("vec_id") >= 100)
    batch = v.filter(F.col("vec_id") < 100)
    vecs, sigs = dedup.build_embedding_index(
        corpus, dim=64, num_planes=4, num_tables=16
    )
    return dedup.incremental_embedding_pairs(
        vecs, sigs, batch, dim=64, threshold=0.9, num_planes=4, num_tables=16
    )


# =====================================================================
# Relational completeness batch 2 (SURVEY §2.12): semi/anti joins,
# conditional aggregation, rollup/cube/grouping sets, sessionization,
# pivot, date functions, set ops.
# =====================================================================


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left semi join (no row duplication,
    no distinct needed — the semi join IS the dedup)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q6_revenue_forecast",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount")} AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 10
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + scalar agg — every predicate
    reaches the parquet scan (PushedFilters), zero joins, one-row
    result; the canonical pushdown check."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 10)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: fact-to-fact join + two broadcast dims +
    top-20 (TakeOrdered over the aggregated, already-small result)."""
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(disc).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
                 / {sql_dsum("l_extendedprice * (1 - l_discount)")} AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio; part is
    broadcast, so the month of lineitem never shuffles."""
    from .operators.relational import conditional_ratio

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-03-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(conditional_ratio(F.col("p_type") == "PROMO", disc).alias("promo_revenue_pct"))
    )


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           {sql_dsum("l_quantity")} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING {sql_dsum("l_quantity")} > 120
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: group-by + HAVING over a join, top-20."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 120)
        .select(
            "c_custkey", "o_orderkey", "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "rollup_order_stats",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           count(*) AS n, {sql_dsum("o_totalprice")} AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (priority → status → grand total)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


@register(
    "cube_event_stats",
    oracle=f"""
    SELECT event_type, user_id % 10 AS cohort,
           count(*) AS n, {sql_dsum("value")} AS total_value
    FROM events
    GROUP BY CUBE (event_type, cohort)
    """,
)
def cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, cohort) — all 4 grouping combinations."""
    ev = _t(spark, sf_dir, "events").withColumn("cohort", F.col("user_id") % 10)
    return ev.cube("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@register(
    "grouping_sets_lineitem",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, {sql_dsum("l_quantity")} AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (each flag alone + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("qty"))


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap) via gaps-and-islands — two window
    passes over ONE (user, ts) partitioning, then the session agg;
    exact integer-microsecond gap comparisons."""
    from .operators.relational import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_seconds=1800)


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id % 10 AS cohort,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events GROUP BY cohort
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (inferred lists cost an extra
    scan and give nondeterministic column order at scale)."""
    from .operators.relational import pivot_counts

    ev = _t(spark, sf_dir, "events").withColumn("cohort", F.col("user_id") % 10)
    return pivot_counts(ev, "cohort", "event_type",
                        ["click", "view", "purchase", "signup", "error"])


@register(
    "date_parts_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(month(o_orderdate) AS INT) AS mth,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           date_trunc('month', o_orderdate) AS month_start,
           count(*) AS n
    FROM orders
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def date_parts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function parity: year/quarter/month/dow/date_trunc
    (DuckDB's dayofweek is 0-based Sunday; Spark's is 1-based —
    normalized in the oracle)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mth"),
            F.dayofweek("o_orderdate").alias("dow"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .groupBy("yr", "qtr", "mth", "dow", "month_start")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "intersect_trading_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def intersect_trading_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (nations with both customers and suppliers)."""
    cu = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    su = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cu.intersect(su)


@register(
    "semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — P6's key-membership predicate, positive form."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return cu.join(o, cu.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "count_distinct_parts_per_supplier",
    oracle="""
    SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)
def count_distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT (expands to a two-phase partial-distinct plan —
    no naive collect-set)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_left_outer_order_counts",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders
    (count(col) skips the nulls the outer join introduces)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        cu.join(o, cu.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer_nation_presence",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           cn.nk IS NOT NULL AS has_customers,
           sn.nk IS NOT NULL AS has_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: which nations have customers and/or
    suppliers."""
    cn = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sn = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    j = cn.alias("cn").join(sn.alias("sn"), F.col("cn.nk") == F.col("sn.nk"), "full_outer")
    return j.select(
        F.coalesce(F.col("cn.nk"), F.col("sn.nk")).alias("nationkey"),
        F.col("cn.nk").isNotNull().alias("has_customers"),
        F.col("sn.nk").isNotNull().alias("has_suppliers"),
    )


@register(
    "theta_price_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0),
             ('medium', 50000.0, 150000.0),
             ('large', 150000.0, 1e12)
    )
    SELECT band, count(*) AS n_orders
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def theta_price_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: orders banded by non-equi conditions against
    a broadcast band dim — broadcast nested loop on a 3-row side, the
    right physical choice (never a cartesian against a big side)."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 150000.0), ("large", 150000.0, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "union_event_sources",
    oracle="""
    SELECT kind, count(*) AS n FROM (
      SELECT 'purchase' AS kind, user_id FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT 'error' AS kind, user_id FROM events WHERE event_type = 'error'
    ) GROUP BY kind
    """,
)
def union_event_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-all of typed sub-streams (S5's regex-union shape)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("purchase").alias("kind"), "user_id"
    )
    b = ev.filter(F.col("event_type") == "error").select(
        F.lit("error").alias("kind"), "user_id"
    )
    return a.unionByName(b).groupBy("kind").agg(F.count(F.lit(1)).alias("n"))


@register(
    "median_value_per_type",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value
    FROM events GROUP BY event_type
    """,
)
def median_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``); the approximate variant
    (percentile_approx / approx_count_distinct) is engine-specific and
    therefore not oracle-checked."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_value"),
    )


@register("approx_stats", oracle=None)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct + quantile sketches (HLL++ / KLL) — the
    100 TB cardinality tools; engine-specific sketches ⇒ rows-only
    check (bounds asserted in tests and, hash-checked, in
    ``approx_stats_bounded``)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
    )


@register(
    "approx_stats_bounded",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           round(quantile_cont(value, 0.5), 6) AS exact_median
    FROM events GROUP BY event_type
    """,
)
def approx_stats_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checked twin of ``approx_stats``: returns the EXACT
    per-group stats (oracle-compared value-for-value) and, before
    returning, asserts the approximate sketches land inside their
    error bounds against those exact values — HLL++ within 3·rsd
    (rsd=0.05 ⇒ 15%), percentile_approx inside the exact p45..p55
    band (its default-accuracy rank error is ~0.01%, far tighter).
    Both sketches are deterministic given the data, so this is a
    stable gate, not a flaky one: a sketch regression fails the query
    (the driver records an err), while the returned values stay
    SQL-exact."""
    ev = _t(spark, sf_dir, "events")
    # ONE scan + ONE aggregation computes exact AND approx together;
    # the handful of per-event_type rows is collected once, the sketch
    # bounds are checked driver-side, and the returned frame is built
    # from the same collected exact values (so the gate costs nothing
    # beyond the single agg — the earlier form ran the exact agg twice
    # plus an eager gate count)
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_median"),
            F.round(F.expr("percentile(value, 0.45)"), 6).alias("_p45"),
            F.round(F.expr("percentile(value, 0.55)"), 6).alias("_p55"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("_approx_users"),
            F.percentile_approx("value", 0.5).alias("_approx_median"),
        )
        .collect()
    )
    bad = [
        r.event_type
        for r in rows
        if abs(r._approx_users - r.exact_users) > 0.15 * r.exact_users
        or not (r._p45 <= r._approx_median <= r._p55)
    ]
    if bad:
        raise AssertionError(f"approx sketches out of bounds for {bad}")
    return spark.createDataFrame(
        [(r.event_type, r.exact_users, r.exact_median) for r in rows],
        "event_type string, exact_users bigint, exact_median double",
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term) AS INT) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf, sklearn-style ln((N+1)/(df+1))+1) with
    top-5 terms per doc. All JVM-side: explode → two aggregations →
    join the document-frequency table back on ``term``. The df table
    is VOCABULARY-sized (Heaps' law: 10⁸-10⁹ rows at the 25 T-token
    SCALING.md design point — NOT tiny), so the join carries no
    broadcast hint (round 10, r9 verdict): it shuffles co-partitioned
    on term — and tf is already partitioned by a (doc_id, term)
    hash from its own aggregation, dfreq by term — while AQE still
    converts to broadcast at runtime when the measured size is small
    (every fixture run). Ranked by rounded score so libm ulp
    differences cannot flip ranks."""
    d = _t(spark, sf_dir, "documents")
    from .operators.textops import tokens as _tok

    toks = d.select("doc_id", F.explode(_tok("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; the oracle's CROSS JOIN n
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tfidf", "rn")
    )


@register(
    "q2ish_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             {sql_dsum("l_extendedprice")} AS cost
      FROM lineitem GROUP BY 1, 2
    ), mins AS (
      SELECT partkey, min(cost) AS mincost FROM ps GROUP BY partkey
    )
    SELECT ps.partkey, ps.suppkey, ps.cost
    FROM ps JOIN mins ON ps.partkey = mins.partkey AND ps.cost = mins.mincost
    """,
)
def q2ish_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min — cheapest supplier per part,
    decorrelated into agg + self-join (Catalyst's own strategy for
    the correlated subquery). Cost values are exact decimals cast to
    double, so the min-equality join is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(dsum("l_extendedprice").alias("cost"))
    mins = ps.groupBy("partkey").agg(F.min("cost").alias("mincost"))
    return (
        ps.join(mins, "partkey")
        .filter(F.col("cost") == F.col("mincost"))
        .select("partkey", "suppkey", "cost")
    )


@register("dedup_clusters", oracle=None)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-verified pairs → distributed
    connected components (iterative min-label propagation) →
    (doc_id, cluster) with cluster = min reachable doc_id. Correctness
    vs a driver-side union-find asserted in tests."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.8)
    return dedup.dedup_clusters(docs, pairs)


@register(
    "dedup_clusters_exact",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS n, doc_id AS m FROM documents
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    )
    SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
    """,
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over the EXACT capped-Jaccard
    near-dup pairs — the hash-checkable twin of ``dedup_clusters``
    (whose MinHash pair set is seeded/engine-specific, hence
    rows-only). Same distributed label-propagation operator; the
    oracle states reachability as a recursive transitive closure
    (fine at oracle scale — near-dup components are tiny; the engine
    side stays the O(log diameter) pointer-jumping iteration that
    survives corpus scale)."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
    )
    return dedup.dedup_clusters(docs, pairs)


@register(
    "dedup_survivors_quality",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS n, doc_id AS m FROM documents
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ), clusters AS (
      SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
    ), best AS (
      SELECT c.doc_id FROM clusters c JOIN documents d USING (doc_id)
      QUALIFY row_number() OVER (PARTITION BY c.cluster
                                 ORDER BY d.n_chars DESC, c.doc_id) = 1
    )
    SELECT d.doc_id, d.n_chars FROM documents d JOIN best USING (doc_id)
    """,
)
def dedup_survivors_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention (round 7 final — the Rae et al.
    2021 policy): after connected-components clustering of the exact
    capped-Jaccard near-dup pairs, keep the LONGEST member of each
    cluster (n_chars; ties → lowest id) instead of the arbitrary
    min-id — min-id retention discards a clean original whenever a
    truncated copy drew the smaller id. Selection is one row_number
    window over the cluster key — the same single exchange the min-id
    policy costs, so quality-awareness is free at scale. The oracle
    restates CC as a recursive transitive closure + the same windowed
    argmax."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
    )
    return dedup.dedup_survivors_best(
        docs, pairs, score=F.col("n_chars")
    ).select("doc_id", "n_chars")


@register(
    "audit_dup_rate_by_source",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS n, doc_id AS m FROM documents
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ), clusters AS (
      SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
    ), csize AS (
      SELECT cluster, count(*) AS sz FROM clusters GROUP BY cluster
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN cs.sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_members,
           round(sum(CASE WHEN cs.sz > 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM documents d
    JOIN clusters c USING (doc_id)
    JOIN csize cs USING (cluster)
    GROUP BY d.source
    """,
)
def audit_dup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate audit (round 7 final): for each
    crawl source, the fraction of its docs that belong to a near-dup
    cluster of size > 1 — the redundancy scoreboard that tells an
    acquisition pipeline WHICH feed to de-prioritize (a source whose
    content is 40% already-seen buys little new signal per byte).
    Clusters from the exact capped-Jaccard pairs via the CC operator;
    the audit itself adds one cluster-size aggregate and one
    source-keyed rollup on top — the expensive part (pairs) is the
    dedup run the pipeline executes anyway, so the audit is near-free
    as a side output."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
    )
    clusters = dedup.dedup_clusters(docs, pairs)
    csize = clusters.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
    return (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id")
        .join(csize, "cluster")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("sz") > 1).cast("int")).cast("long").alias("n_dup_members"),
            F.round(
                F.sum((F.col("sz") > 1).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


@register(
    "audit_corpus_datacard",
    oracle=f"""
    WITH base AS (
      SELECT source, lang, n_chars,
             CAST(len({_TOKS}) AS BIGINT) AS nt
      FROM documents
    )
    SELECT coalesce(source, 'ALL') AS source,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           round(avg(CAST(nt AS DOUBLE)), 6) AS mean_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(median(nt) AS DOUBLE) AS median_tokens,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM base
    GROUP BY ROLLUP (source)
    """,
)
def audit_corpus_datacard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (round 9): the per-source dataset-documentation
    rollup every released corpus ships (Datasheets for Datasets, Gebru
    et al. 2021; Dolma/RedPajama publish exactly this table) — doc and
    token counts, mean/median lengths, language spread, per source
    PLUS the all-corpus total, in ONE scan via ROLLUP. Median is the
    exact interpolated percentile over integer token counts (the
    bounded-domain contract of ``quality_outlier_mad``); at 100 TB the
    scan is the only corpus-scale stage — the rollup output is
    sources+1 rows."""
    from .operators.textops import token_count

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source", "lang", "n_chars", token_count("text").alias("nt")
    )
    return (
        base.rollup("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.col("nt").cast("double")), 6).alias("mean_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.expr("percentile(nt, 0.5)").alias("median_tokens"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "n_tokens",
            "mean_tokens",
            "n_langs",
            "median_tokens",
            "max_chars",
        )
    )


@register(
    "chunk_doc_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), base AS (
      SELECT doc_id, len(w) AS n FROM toks
    ), spans AS (
      SELECT doc_id, n,
             unnest(range(0, greatest(1,
               CAST(ceil((n - 32) / 24.0) AS INT) + 1))) AS chunk_id
      FROM base
    )
    SELECT doc_id, chunk_id,
           chunk_id * 24 AS tok_start,
           least(chunk_id * 24 + 32, n) AS tok_end
    FROM spans
    """,
)
def chunk_doc_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (32-token chunks, stride
    24 — sized to the short fixture docs so the fan-out is real). The
    doc→chunk explosion feeding embedding/indexing. Narrow
    flatMap in the scan stage, zero shuffles."""
    from .operators import curation

    return curation.chunk_doc_spans(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


@register(
    "text_boilerplate_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), raw AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
               i -> struct_pack(pos := i - 1,
                                g := array_to_string(w[i:i+2], ' ')))) AS u
      FROM toks WHERE len(w) >= 3
    ), grams AS (
      SELECT doc_id, u.pos AS pos, u.g AS g FROM raw
    ), flagged AS (
      SELECT g FROM (
        SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
      ) WHERE df >= 3
    ), cov AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(range(pos, pos + 3)) AS tok
        FROM grams JOIN flagged USING (g)
      )
    ), covc AS (
      SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.w) AS n_tokens,
           coalesce(c.n_covered, 0) AS n_covered,
           round(CAST(coalesce(c.n_covered, 0) AS DOUBLE) / len(t.w), 6)
             AS boilerplate_frac
    FROM toks t LEFT JOIN covc c USING (doc_id)
    """,
)
def text_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span screen: fraction of each doc's
    tokens covered by a 3-gram appearing in ≥3 documents (boilerplate
    detection, Lee et al. 2021). Shared-shingle DF stats + equi-join
    on the gram — the dedup-cap shape, never all-pairs."""
    from .operators import textops

    return textops.boilerplate_coverage(
        _t(spark, sf_dir, "documents"), n=3, min_df=3
    )


@register(
    "x_map_functions",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(len(json_keys(props)) AS INT) AS n_keys
    FROM events
    """,
)
def x_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: props parsed into map<string,bigint>,
    element_at + map_keys (the oracle goes through JSON functions —
    same values)."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "x_array_functions",
    oracle="""
    WITH h AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT vec_id,
           CAST(len(v) AS INT) AS dim,
           CAST(round(v[1] * 10000) AS BIGINT) AS h1,
           CAST(round(v[2] * 10000) AS BIGINT) AS h2,
           CAST(round(v[3] * 10000) AS BIGINT) AS h3,
           round(list_max(v), 4) AS vmax,
           round(list_min(v), 4) AS vmin
    FROM h
    """,
)
def x_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: size/slice/element_at/array_max/min
    over the embedding column (float→double cast first). The head
    elements are emitted as 1e-4-scaled BIGINTs, not a float array:
    an array<double> output column hashes differently between Arrow
    and non-Arrow toPandas paths (ndarray vs list repr), so the
    comparison protocol keeps compared columns scalar."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    head = F.slice(v, 1, 3)

    def h(i: int):
        return F.round(F.element_at(head, i) * 10000, 0).cast("long").alias(f"h{i}")

    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        h(1),
        h(2),
        h(3),
        F.round(F.array_max(v), 4).alias("vmax"),
        F.round(F.array_min(v), 4).alias("vmin"),
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, yr,
           {sql_dsum("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS yr,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'CHINA' AND n2.n_name = 'GERMANY')
             OR (n1.n_name = 'GERMANY' AND n2.n_name = 'CHINA'))
    ) GROUP BY supp_nation, cust_nation, yr
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-role dimension (nation joined twice under
    different aliases) + disjunctive cross-filter + year rollup."""
    su = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n1), su.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cu.c_nationkey == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "CHINA") & (F.col("cust_nation") == "GERMANY"))
            | ((F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "CHINA"))
        )
    )
    return (
        j.select("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("yr"), vol.alias("volume"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(dsum("volume").alias("revenue"))
    )


@register(
    "q12ish_priority_shipping",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12ish_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-conditional counts inside the agg."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with a join-time filter, then a
    distribution over the grouped counts (aggregate of an aggregate)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cu.join(o, cu.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH avg_qty AS (
      SELECT l_partkey AS pk, 0.5 * ({sql_dsum("l_quantity")} / count(*)) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum("l_extendedprice")} / 7.0 AS avg_yearly, count(*) AS n
    FROM lineitem JOIN avg_qty ON l_partkey = pk
    WHERE l_quantity < half_avg
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-key average subquery joined back as a
    row filter (the correlated-average decorrelation)."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * (dsum("l_quantity") / F.count(F.lit(1)))).alias("half_avg")
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q19ish_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#10' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 5 AND l_quantity <= 35)
    """,
)
def q19ish_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    pushes the derivable conjuncts to each scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    cond1 = (
        (F.col("p_brand") == "Brand#10")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    cond2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(5, 35)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond1 | cond2)
        .agg(dsum(disc).alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q22ish_idle_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_dsum("c_acctbal")} / count(*) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey, count(*) AS numcust, {sql_dsum("c_acctbal")} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q22ish_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-average subquery + anti join (rich
    customers who never ordered)."""
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = cu.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("a")
    )
    return (
        cu.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, cu.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal").alias("totacctbal"))
    )


@register(
    "q8ish_market_share",
    oracle=f"""
    WITH rev AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'AMERICA'
    )
    SELECT o_year,
           round({sql_dsum("CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END")}
                 / {sql_dsum("volume")}, 6) AS mkt_share
    FROM rev GROUP BY o_year
    """,
)
def q8ish_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional aggregate
    over a 6-way join, share = ratio of two exact decimal sums. All
    dims broadcast; lineitem shuffles once for the year group-by."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = _t(spark, sf_dir, "supplier")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .join(F.broadcast(cn), cu.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(F.lit(0.0))
    return rev.groupBy("o_year").agg(
        F.round(dsum(nation_vol) / dsum(F.col("volume")), 6).alias("mkt_share")
    )


@register(
    "q9ish_product_profit",
    oracle=f"""
    SELECT sn.n_name AS nation, year(o_orderdate) AS o_year,
           {sql_dsum("l_extendedprice * (1 - l_discount) - 0.8 * p_retailprice * l_quantity")} AS profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
)
def q9ish_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by (supplier nation, year).
    No partsupp fixture exists, so supply cost is the deterministic
    proxy 0.8·p_retailprice·l_quantity — the join/agg shape (filtered
    part dim broadcast into the fact scan) is what Q9 exercises."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("profit"))
    )


@register(
    "q11ish_important_parts",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS val
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, val
    FROM v
    WHERE val > 0.0007 * (SELECT CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) FROM v)
    """,
)
def q11ish_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group-by HAVING > scalar-subquery × fraction
    (parts holding an outsized share of total traded value). The
    total is a broadcast single-row aggregate — the per-part agg
    shuffles once and is reused for both sides."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.groupBy("l_partkey").agg(
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("val")
    )
    # the grand total must ALSO be an order-independent exact sum —
    # a double F.sum's partial-agg order differs from DuckDB's
    # sequential sum and could flip a borderline part's > comparison
    total = v.agg(dsum("val").alias("total"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.lit(0.0007) * F.col("total"))
        .select("l_partkey", "val")
    )


@register(
    "q15ish_top_supplier",
    oracle=f"""
    WITH r AS (
      SELECT l_suppkey, {sql_dsum("l_extendedprice * (1 - l_discount)")} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN r ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM r)
    """,
)
def q15ish_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by windowed revenue — agg, then
    equality against the broadcast max (exact decimal-derived doubles
    make the equality deterministic across engines)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-04-01")))
    )
    r = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("total_rev")
    )
    mx = r.agg(F.max("total_rev").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        r.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "q16ish_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand_1' AND p_type NOT LIKE 'SMALL%'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16ish_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-count of suppliers per part attribute
    bucket with NOT-LIKE/IN dim filters (lineitem stands in for the
    absent partsupp as the part↔supplier pair source)."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand_1")
        & (~F.col("p_type").like("SMALL%"))
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20ish_excess_suppliers",
    oracle="""
    WITH red AS (
      SELECT l_suppkey, l_partkey, l_quantity
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
    ), pq AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
      FROM red GROUP BY l_suppkey, l_partkey
    ), pt AS (
      SELECT l_partkey,
             0.3 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS thr
      FROM red GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM pq JOIN pt USING (l_partkey) WHERE qty > thr)
    """,
)
def q20ish_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join through a correlated-threshold
    aggregate (suppliers holding >30% of a red part's year volume).
    The filtered pair table feeds BOTH aggregates; supplier joins
    semi, so no supplier row is ever duplicated."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01")))
    )
    red = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_suppkey", "l_partkey", "l_quantity"
    )
    pq = red.groupBy("l_suppkey", "l_partkey").agg(dsum("l_quantity").alias("qty"))
    pt = red.groupBy("l_partkey").agg(
        (F.lit(0.3) * dsum("l_quantity")).alias("thr")
    )
    excess = pq.join(pt, "l_partkey").filter(F.col("qty") > F.col("thr"))
    s = _t(spark, sf_dir, "supplier")
    return s.join(
        excess.select(F.col("l_suppkey").alias("s_suppkey")).distinct(),
        "s_suppkey",
        "left_semi",
    ).select("s_suppkey", "s_name")


@register(
    "q21ish_sole_supplier_orders",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_linenumber <> l1.l_linenumber)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q21ish_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated on the same
    fact table (multi-line 'F' orders where one supplier carried every
    line — the fixture lacks commit/receipt dates, so sole-supplier
    stands in for late-delivery; the join topology is Q21's). Both
    subqueries become (semi, anti) self-joins on l_orderkey with
    non-equi residuals — Catalyst's built-in decorrelation shapes."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    base = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_linenumber") != F.col("l1.l_linenumber")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        base.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# =====================================================================
# Round 3: as-of join + training-data curation family (deterministic
# split, per-domain quotas, contamination screen, repetition signals,
# sequence packing).
# =====================================================================


@register(
    "asof_latest_order",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey   AS asof_o_orderkey,
           o.o_totalprice AS asof_o_totalprice,
           o.o_orderdate  AS asof_o_orderdate
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    QUALIFY row_number() OVER (
        PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward inclusive): enrich every event with the
    issuing user's most recent order as of the event time — the
    TableView point-lookup (pulsar.go:229-252) generalized to
    per-event-time state. Engine shape: union + per-key window carry,
    ONE shuffle on the key, no theta join (operators/asof.py); the
    oracle states the same semantics as the O(L·R)-per-key ranked
    theta join SQL makes readable."""
    from .operators import asof

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return asof.asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
        tiebreak_cols=["o_orderkey"],
    )


@register(
    "split_train_val_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 100 AS b
      FROM documents
    )
    """,
)
def split_train_val_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: bucket =
    integer prefix of md5(doc_id) — a pure function of the key, so
    re-runs, repartitions, and late shards always agree. No shuffle at
    all: the label is a scalar projection on the scan."""
    from .operators import curation

    return curation.train_val_test_split(_t(spark, sf_dir, "documents"))


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS n, doc_id AS m FROM documents
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ), clusters AS (
      SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
    )
    SELECT doc_id, cluster,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster,
             CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 8))
                  AS UBIGINT) % 100 AS b
      FROM clusters
    )
    """,
)
def split_leakage_safe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the hash split is keyed by
    the near-dup CLUSTER representative, so near-duplicate documents
    can never straddle the train/test boundary (the classic eval-
    contamination failure of per-document splits). Engine: exact
    capped-Jaccard pairs → pointer-jumping connected components →
    scalar md5 projection on the cluster id; the oracle restates the
    clustering as a recursive transitive closure."""
    from .operators import curation, dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
    )
    return curation.leakage_safe_split(docs, pairs)


@register(
    "text_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), flat AS (
      SELECT doc_id, u['s'] AS start_tok, u['s'] + 2 AS end_tok, u['g'] AS g
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> {{'s': i - 1, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}})) AS u
        FROM toks WHERE len(t) >= 3
      )
    ), dfreq AS (
      SELECT g, count(DISTINCT doc_id) AS df FROM flat GROUP BY g
    )
    SELECT f.doc_id, CAST(f.start_tok AS BIGINT) AS start_tok,
           CAST(f.end_tok AS BIGINT) AS end_tok, d.df
    FROM flat f JOIN dfreq d USING (g)
    WHERE d.df >= 4
    """,
)
def text_duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span mining: token spans whose trigram occurs in ≥4
    distinct documents — boilerplate detection at span granularity
    (mask-before-training / quality-signal input). One positional
    explode, one distinct-doc count (map-side combinable), one
    equi-join on the hashed gram."""
    from .operators import textops

    return textops.duplicate_spans(
        _t(spark, sf_dir, "documents"), n=3, min_df=4
    )


@register(
    "text_excise_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), flat AS (
      SELECT doc_id, u['s'] AS start_tok, u['s'] + 2 AS end_tok, u['g'] AS g
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> {{'s': i - 1, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}})) AS u
        FROM toks WHERE len(t) >= 3
      )
    ), dfreq AS (
      SELECT g FROM flat GROUP BY g HAVING count(DISTINCT doc_id) >= 4
    ), cov AS (
      SELECT DISTINCT doc_id, unnest(range(start_tok, end_tok + 1)) AS pos
      FROM flat JOIN dfreq USING (g)
    ), covlist AS (
      SELECT doc_id, list(pos) AS cv FROM cov GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id,
             [t.t[i + 1] FOR i IN range(len(t.t))
              IF NOT list_contains(coalesce(c.cv, []), i)] AS kept,
             t.t AS t
      FROM toks t LEFT JOIN covlist c USING (doc_id)
    )
    -- coalesce: a FULLY-excised doc has kept = [] and DuckDB's
    -- array_to_string yields NULL where the engine's array_join
    -- yields '' — the same guard the winnowed/keepfirst excise
    -- oracles already carry (first reachable at sf0.001; no sf0.01
    -- doc excises fully, so driver-SF hashes are unchanged)
    SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_dropped
    FROM rewritten
    """,
)
def text_excise_duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REWRITE (Lee et al. 2021, public): every
    token covered by a ≥4-doc trigram is excised and the survivors
    re-joined — the corpus leaves this operator already cleaned, not
    just annotated. Codegen positional array filter; the only
    corpus-scale exchanges are the gram-df aggregate and the covered-
    position group-by."""
    from .operators import textops

    return textops.excise_duplicate_spans(
        _t(spark, sf_dir, "documents"), n=3, min_df=4
    )


# 60 marker tokens planted as shared boilerplate on every 11th doc —
# long enough that the planted run clears the 50-token Lee-et-al.
# excision floor while every organic duplicated trigram stays under it
_BP60 = " ".join(f"bp{i:03d}" for i in range(60))


@register(
    "text_excise_min_span",
    oracle=f"""
    WITH docs2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' {_BP60}' ELSE text END AS text
      FROM documents
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM docs2
    ), flat AS (
      SELECT doc_id, u['s'] AS start_tok, u['s'] + 2 AS end_tok, u['g'] AS g
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                 i -> {{'s': i - 1, 'g': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}})) AS u
        FROM toks WHERE len(t) >= 3
      )
    ), dfreq AS (
      SELECT g FROM flat GROUP BY g HAVING count(DISTINCT doc_id) >= 4
    ), cov AS (
      SELECT DISTINCT doc_id, unnest(range(start_tok, end_tok + 1)) AS pos
      FROM flat JOIN dfreq USING (g)
    ), isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM cov
    ), spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) AS e
      FROM isl GROUP BY doc_id, grp HAVING count(*) >= 50
    ), cov2 AS (
      SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM spans
    ), covlist AS (
      SELECT doc_id, list(pos) AS cv FROM cov2 GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id,
             [t.t[i + 1] FOR i IN range(len(t.t))
              IF NOT list_contains(coalesce(c.cv, []), i)] AS kept,
             t.t AS t
      FROM toks t LEFT JOIN covlist c USING (doc_id)
    )
    -- coalesce: fully-excised doc — see text_excise_duplicate_spans
    SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_dropped
    FROM rewritten
    """,
)
def text_excise_min_span_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee-et-al.-FAITHFUL excision (round 7): covered positions
    are merged into MAXIMAL contiguous spans and only spans of ≥50
    tokens are excised — the paper's operative unit is duplicated
    substrings of length ≥~50 tokens, and the fixed-trigram policy of
    ``text_excise_duplicate_spans`` (kept for series continuity)
    over-masks ordinary prose on a real web corpus. Non-vacuous by
    construction: a 60-token boilerplate tail is planted on every 11th
    document IN THE QUERY (deterministic string concat both engines
    replay), so the planted runs must leave the text while every
    organic duplicated trigram — plentiful at min_df=4 — must survive.
    The span merge is a per-doc Catalyst ``aggregate`` fold (gaps-and-
    islands with no window function, no extra exchange); the oracle
    states the same islands with ``pos - row_number()``."""
    from .operators import textops

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" " + _BP60))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return textops.excise_duplicate_spans(
        docs, n=3, min_df=4, min_span_tokens=50
    )


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), occ AS (
      SELECT doc_id, i AS pos, doc_id * 1048576 + i AS k,
             array_to_string(t[i+1:i+5], ' ') AS g
      FROM toks, UNNEST(range(greatest(len(t) - 4, 0))) AS ii(i)
    ), firsts AS (
      SELECT g, min(k) AS fk FROM occ GROUP BY g
    ), cov AS (
      SELECT DISTINCT o.doc_id, o.pos + d AS p
      FROM occ o JOIN firsts f USING (g), UNNEST(range(5)) AS dd(d)
      WHERE o.k <> f.fk
    ), covlist AS (
      SELECT doc_id, list(p) AS cv FROM cov GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id,
             [t.t[i + 1] FOR i IN range(len(t.t))
              IF NOT list_contains(coalesce(c.cv, []), i)] AS kept,
             t.t AS t
      FROM toks t LEFT JOIN covlist c USING (doc_id)
    )
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_dropped
    FROM rewritten
    """,
)
def dedup_exact_substring_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr with the KEEP-FIRST policy (Lee et al. 2021 §4.1,
    the paper's actual training recipe; round 10): of every
    occurrence of a duplicated word n-gram across the corpus —
    within-document repeats included — the globally first (by
    (doc_id, position)) stays and all later spans are excised, so
    exactly one copy of every substring survives. Completes the
    excision trio: ``text_excise_duplicate_spans`` (drop ALL copies),
    ``text_excise_min_span`` (≥50-token spans only), and this (the
    mass-preserving dedup). First-occurrence selection is a map-side-
    combinable min of a packed (doc_id << 20 | pos) key — an
    aggregate, never a window, so power-law grams combine instead of
    converging on one partition; the join back is keyed on the
    8-byte xxhash64 gram."""
    from .operators import textops

    return textops.excise_keepfirst_spans(
        _td(spark, sf_dir), n=5
    )


def _winnowed_excise_oracle(gpos_expr: str, out: str = "stats") -> str:
    """Shared oracle body for the winnowed keep-first excision family
    (round 11; selection paper-faithful since round 12): tokenize →
    5-gram strings → portable Horner hash (the
    ``rolling_fingerprints`` arithmetic, base 257 mod 2³¹−1) →
    per-window RIGHTMOST-minima selection (Schleimer 2003, window
    w=8 — the packed-key construction mirrors the operator: min of
    ``h·2²⁰ + (2²⁰−1−pos)`` over each window frame IS the rightmost
    minimal hash; window starts ≤ greatest(G−8, 0), so a doc with
    fewer than 8 grams winnows its single truncated window) →
    keep-first over the SELECTED occurrences under the order
    ``gpos_expr`` encodes → span explode → positional rewrite. The
    plant (every 7th doc copied at doc_id+10⁷) supplies
    WHOLE-document duplicates — ~50-token shared runs that anchor in
    both copies BY CONSTRUCTION under the per-window rule — and, for
    the incremental form, lands copies in a different doc_id % 3
    residue than their originals (10⁷ % 3 = 1), so removals exercise
    the stored anchor index, not just the within-batch rule.

    ``out="stats"`` (default) emits the excision-family contract
    (n_tokens / clean_text / kept / dropped); ``out="curator"``
    emits the curator accepted-corpus contract — (doc_id, text) with
    the ORIGINAL text byte-exact when nothing was excised, the
    normalized token rejoin otherwise."""
    if out == "curator":
        final = """
    SELECT r.doc_id,
           CASE WHEN coalesce(len(r.kept), 0) = coalesce(len(r.t), 0)
                THEN s.text
                ELSE coalesce(array_to_string(r.kept, ' '), '') END AS text
    FROM rewritten r JOIN src s USING (doc_id)
    """
    else:
        final = """
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(kept) AS BIGINT) AS n_tokens_kept,
           CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_dropped
    FROM rewritten
    """
    return f"""
    WITH src AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents
      WHERE doc_id % 7 = 0
    ), toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM src
    ), grams AS (
      SELECT doc_id, i AS pos, array_to_string(t[i+1:i+5], ' ') AS g
      FROM toks, UNNEST(range(greatest(len(t) - 4, 0))) AS ii(i)
    ), hashed AS (
      SELECT doc_id, pos, g,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(g) + 1),
                   j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS BIGINT))),
               (acc, c) -> (acc * 257 + c) % 2147483647
             ) AS h
      FROM grams
    ), keyed AS (
      SELECT doc_id, pos, g, h,
             h * 1048576 + (1048575 - pos) AS kk,
             count(*) OVER (PARTITION BY doc_id) AS ng
      FROM hashed
    ), winmins AS (
      SELECT doc_id, pos AS s, ng,
             min(kk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mk
      FROM keyed
    ), winsel AS (
      SELECT DISTINCT doc_id, 1048575 - (mk % 1048576) AS pos
      FROM winmins WHERE s <= greatest(ng - 8, 0)
    ), occ AS (
      SELECT doc_id, pos, g, {gpos_expr} AS gpos
      FROM hashed JOIN winsel USING (doc_id, pos)
    ), firsts AS (
      SELECT g, min(gpos) AS fp FROM occ GROUP BY g
    ), cov AS (
      SELECT DISTINCT o.doc_id, o.pos + d AS p
      FROM occ o JOIN firsts f USING (g), UNNEST(range(5)) AS dd(d)
      WHERE o.gpos <> f.fp
    ), covlist AS (
      SELECT doc_id, list(p) AS cv FROM cov GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id,
             [t.t[i + 1] FOR i IN range(len(t.t))
              IF NOT list_contains(coalesce(c.cv, []), i)] AS kept,
             t.t AS t
      FROM toks t LEFT JOIN covlist c USING (doc_id)
    )
    {final}
    """


def _substr_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (round 13): the §2.5 spread was measured HERE and reverted
    # (interleaved A/B 0.89 vs 1.18 s on text_excise_winnowed) — the
    # r12 Arrow kernel left this family agg/join-bound, so the extra
    # exchange plus 32-task stages cost more than the kernel saves
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )


@register(
    "audit_winnowed_density",
    # the selection CTEs of the excision oracle, ended at a 1-row
    # corpus rollup instead of the rewrite
    oracle=f"""
    WITH src AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text FROM documents
      WHERE doc_id % 7 = 0
    ), toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM src
    ), grams AS (
      SELECT doc_id, i AS pos, array_to_string(t[i+1:i+5], ' ') AS g
      FROM toks, UNNEST(range(greatest(len(t) - 4, 0))) AS ii(i)
    ), hashed AS (
      SELECT doc_id, pos, g,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, len(g) + 1),
                   j -> CAST(ascii(substr(g, CAST(j AS INT), 1)) AS BIGINT))),
               (acc, c) -> (acc * 257 + c) % 2147483647
             ) AS h
      FROM grams
    ), keyed AS (
      SELECT doc_id, pos, g, h,
             h * 1048576 + (1048575 - pos) AS kk,
             count(*) OVER (PARTITION BY doc_id) AS ng
      FROM hashed
    ), winmins AS (
      SELECT doc_id, pos AS s, ng,
             min(kk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mk
      FROM keyed
    ), winsel AS (
      SELECT DISTINCT doc_id, 1048575 - (mk % 1048576) AS pos
      FROM winmins WHERE s <= greatest(ng - 8, 0)
    ), occ AS (
      SELECT doc_id, g FROM hashed JOIN winsel USING (doc_id, pos)
    )
    SELECT (SELECT count(*) FROM toks) AS n_docs,
           (SELECT count(*) FROM grams) AS n_grams,
           (SELECT count(*) FROM occ) AS n_anchors,
           (SELECT count(DISTINCT g) FROM occ) AS n_distinct_anchors,
           round((SELECT count(*) FROM occ)
                 / CAST((SELECT count(*) FROM grams) AS DOUBLE), 6)
             AS density,
           round((SELECT count(*) FROM occ)
                 / CAST((SELECT count(*) FROM toks) AS DOUBLE), 6)
             AS anchors_per_doc
    """,
)
def audit_winnowed_density_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sizing audit of the winnowed-anchor index (round 11 — the
    diagnostics a team runs BEFORE committing to the
    ``substr_dedup`` tier): corpus doc/gram/anchor counts, distinct
    anchors (≈ the stored index rows), realized selection density
    (per-window rightmost minima select ≈ 2/(w+1) of positions over
    i.i.d. hashes — Schleimer 2003 §3; repetitive text and the
    short-doc truncated window pull it slightly off: 0.207 on this
    fixture at w=8, vs the retired trailing rule's 0.159 — the
    guarantee costs ~1.3× index rows here), and anchors per doc
    (≈ index rows each accepted doc adds). One scan → the zero-shuffle
    selection → a single 1-row aggregate; the planted corpus matches
    the excision fixtures so the numbers describe exactly the index
    those queries build."""
    from .operators.textops import _winnowed_anchor_occurrences

    plant = _substr_plant(spark, sf_dir)
    occ = _winnowed_anchor_occurrences(plant, "text", "doc_id", 5, 8)
    from .operators.textops import tokens as _tok

    stats = plant.select(
        F.size(_tok("text")).alias("_nt")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.greatest(F.col("_nt") - 4, F.lit(0))).alias("n_grams"),
    )
    astats = occ.agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.countDistinct("g").alias("n_distinct_anchors"),
    )
    return stats.crossJoin(F.broadcast(astats)).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_anchors").cast("long").alias("n_anchors"),
        F.col("n_distinct_anchors").cast("long").alias("n_distinct_anchors"),
        F.round(
            F.col("n_anchors") / F.col("n_grams").cast("double"), 6
        ).alias("density"),
        F.round(
            F.col("n_anchors") / F.col("n_docs").cast("double"), 6
        ).alias("anchors_per_doc"),
    )


@register(
    "text_excise_winnowed",
    oracle=_winnowed_excise_oracle("doc_id * 1048576 + pos"),
)
def text_excise_winnowed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first substring dedup at WINNOWED-ANCHOR grain (round 11;
    selection paper-faithful since round 12): the dedup unit is the
    winnowing-selected 5-gram occurrence (Schleimer 2003's per-window
    RIGHTMOST minima at token granularity, w=8), keep-first by
    (doc_id, pos) per gram STRING, spans of later selected
    occurrences excised. The ~2/(w+1) sample is what makes the anchor
    index storable at crawl cadence
    (``pipeline_incremental_substr_dedup`` maintains it); recall is
    the paper's GUARANTEE — matching runs of ≥ n+w−1 = 12 tokens
    share an anchor BY CONSTRUCTION (the planted whole-document
    copies are ~50-token runs), only shorter duplications slip, and
    ``dedup_exact_substring`` is the every-gram sibling that catches
    those too. Selection is a zero-shuffle per-row Catalyst fold
    (packed-key rightmost-argmin, one slice per window); two Catalyst
    hazards found and pinned in the operator docstring
    (InferFiltersFromGenerate pushing the selection chain into a
    per-row Filter: 220 s → 4.5 s; post-explode element_at
    re-evaluation)."""
    from .operators import textops

    return textops.excise_winnowed_spans(
        _substr_plant(spark, sf_dir), n=5, w=8
    )


@register(
    "pipeline_incremental_substr_dedup",
    # the oracle states the EQUIVALENCE LAW, not the loop: the greedy
    # batch-at-a-time fold (earlier batch wins; within a batch, min
    # (doc_id, pos) wins) equals the global first-occurrence rule over
    # SELECTED anchors under the lexicographic order (batch, doc_id,
    # pos) — one BIGINT key batch·2^50 + doc_id·2^20 + pos (2^50, not
    # the line oracle's 2^43: planted doc ids reach 10^7 + 10^4, and
    # (10^7)·2^20 ≈ 1.05·10^13 would collide with a 2^43 batch term)
    oracle=_winnowed_excise_oracle(
        "(doc_id % 3) * 1125899906842624 + doc_id * 1048576 + pos"
    ),
)
def pipeline_incremental_substr_dedup_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END incremental substring dedup, hash-checked: the
    planted corpus arrives as three ``doc_id % 3`` micro-batches
    through the REAL ``IncrementalSubstrDeduper`` — per-batch
    (gh, g)-keyed anti-join against the materialized winnowed-anchor
    index, greedy first-writer-wins anchor claiming, idempotent
    per-batch commits, one ``compact()`` mid-stream so the hashed
    read crosses the versioned fold too — and the rewritten corpus
    must equal the oracle's single-statement form of the same fold
    (the equivalence law pinned in
    ``tests/test_substr_dedup_stream.py``). Non-vacuous ACROSS
    batches: planted copies land in a different residue than their
    originals, so excisions exercise the stored index, not just the
    within-batch rule."""
    from .streaming.substr_dedup import IncrementalSubstrDeduper

    with _scratch(spark, "substrdedup_q") as base:
        docs = _substr_plant(spark, sf_dir)
        d = IncrementalSubstrDeduper(spark, base, n=5, w=8)
        for k in range(3):
            d.process_batch(docs.filter(F.col("doc_id") % 3 == k), k)
            if k == 1:
                d.compact()
        return _held(
            d.deduped(),
            "doc_id long, n_tokens bigint, clean_text string, "
            "n_tokens_kept bigint, n_tokens_dropped bigint",
        )


@register(
    "pipeline_streaming_substr",
    # the same equivalence law as pipeline_incremental_substr_dedup
    # (the greedy batch fold == global first-occurrence under the
    # (batch, doc_id, pos) BIGINT key), ended at the CURATOR's
    # accepted-corpus contract: original text byte-exact when nothing
    # was excised, the normalized token rejoin otherwise
    oracle=_winnowed_excise_oracle(
        "(doc_id % 3) * 1125899906842624 + doc_id * 1048576 + pos",
        out="curator",
    ),
)
def pipeline_streaming_substr_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END substring dedup as a CURATOR SCREEN (round 12 —
    the r11 verdict's composition ask), hash-checked: the planted
    corpus arrives as three ``doc_id % 3`` micro-batches through
    ``StreamingCorpusCurator(screen="substr")`` — pre-screen chain
    (inactive here), per-batch (gh, g)-keyed anti-join against the
    claimed-anchor tier, greedy first-writer-wins claiming, spans
    excised IN PLACE (the doc is rewritten, never rejected),
    idempotent per-batch commits, one ``compact()`` mid-stream so
    the hashed read crosses the versioned anchors fold and manifest
    flip too — and ``accepted()`` must equal the oracle's
    single-statement form of the same fold, with untouched docs'
    text preserved byte-exact. Non-vacuous ACROSS batches: planted
    copies land in a different residue than their originals, so
    excisions exercise the stored anchor tier, not just the
    within-batch rule. The never-indexed pre-screen contract and the
    frozen (substr_n, winnow_w) policy record are pinned in
    ``tests/test_curator_substr.py``."""
    from .streaming.curator import StreamingCorpusCurator

    with _scratch(spark, "cursubstr_q") as base:
        docs = _substr_plant(spark, sf_dir)
        cur = StreamingCorpusCurator(spark, base, screen="substr")
        for k in range(3):
            cur.process_batch(docs.filter(F.col("doc_id") % 3 == k), k)
            if k == 1:
                cur.compact()
        return _held(cur.accepted(), "doc_id long, text string")


@register(
    "text_line_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), segs AS (
      -- doc_id IS NOT NULL mirrors the operator's uniform guard at
      -- its shared exchange (no declared fixture carries NULL ids —
      -- canary-pinned; the clause only aligns the contracts)
      SELECT doc_id, i AS idx, doc_id * 1048576 + i AS gpos,
             array_to_string(t[(i*10+1):(i*10+10)], ' ') AS line
      FROM toks, LATERAL UNNEST(
        range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
      WHERE doc_id IS NOT NULL
    ), occ AS (
      SELECT * FROM segs WHERE line <> ''
    ), firsts AS (
      SELECT line, min(gpos) AS fp FROM occ GROUP BY line
    ), kept AS (
      SELECT o.doc_id, o.idx, o.line
      FROM occ o JOIN firsts f ON o.line = f.line AND o.gpos = f.fp
    ), rebuilt AS (
      SELECT doc_id, string_agg(line, ' ' ORDER BY idx) AS text_dedup,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), base AS (
      SELECT doc_id, count(*) AS n_lines FROM occ GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           coalesce(b.n_lines, 0) AS n_lines,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(b.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed
    FROM documents d
    LEFT JOIN base b ON d.doc_id = b.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    WHERE d.doc_id IS NOT NULL
    """,
)
def text_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb line-level dedup with GLOBAL first-occurrence
    retention (Raffel et al. 2020 §2.2; Penedo et al. 2023) — the
    keep-ONE complement of the excision family, which removes EVERY
    occurrence. Lines = fixed 10-token windows (the fixture has no
    newlines; the operator's ``delimiter`` arg is the web-corpus
    path). Non-vacuous on the fixture: the generator's planted
    near-dup copies share exact 10-token windows (151 duplicate
    occurrences at sf0.01), all collapsed to their smallest
    (doc_id, line_index) occurrence and the documents rewritten from
    the survivors. First-occurrence selection is a map-side-combined
    groupBy(line) min — NOT a window, which would sort the hot
    partition of a boilerplate line repeated 1e9× at corpus scale —
    then a line-keyed join (AQE skew-split) and one doc-keyed
    reassembly agg."""
    from .operators import textops

    # input spread (round 13, guide §2.5): the split_lines projection
    # sits below the operator's shared _id exchange, so without the
    # spread the whole scan+split map stage rides ONE task (single-
    # row-group fixture). Spread first and the split computes across
    # defaultParallelism between the two exchanges; identity at scale.
    docs = _td(spark, sf_dir)
    return textops.line_dedup(docs, segment_tokens=10)


@register(
    "pipeline_incremental_line_dedup",
    # The oracle states the EQUIVALENCE LAW, not the loop: the greedy
    # batch-at-a-time fold (earlier batch wins; within a batch, min
    # (doc_id, idx) wins) equals the global first-occurrence rule
    # under the lexicographic occurrence order (batch, doc_id, idx) —
    # encoded as one BIGINT key batch*2^43 + doc_id*2^20 + idx.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), segs AS (
      SELECT doc_id, i AS idx,
             (doc_id % 3) * 8796093022208 + doc_id * 1048576 + i AS gpos,
             array_to_string(t[(i*10+1):(i*10+10)], ' ') AS line
      FROM toks, LATERAL UNNEST(
        range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
    ), occ AS (
      SELECT * FROM segs WHERE line <> ''
    ), firsts AS (
      SELECT line, min(gpos) AS fp FROM occ GROUP BY line
    ), kept AS (
      SELECT o.doc_id, o.idx, o.line
      FROM occ o JOIN firsts f ON o.line = f.line AND o.gpos = f.fp
    ), rebuilt AS (
      SELECT doc_id, string_agg(line, ' ' ORDER BY idx) AS text_dedup,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), base AS (
      SELECT doc_id, count(*) AS n_lines FROM occ GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           coalesce(b.n_lines, 0) AS n_lines,
           coalesce(r.n_kept, 0) AS n_kept,
           coalesce(b.n_lines, 0) - coalesce(r.n_kept, 0) AS n_removed
    FROM documents d
    LEFT JOIN base b ON d.doc_id = b.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def pipeline_incremental_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END incremental line dedup, hash-checked: the documents
    table arrives as three ``doc_id % 3`` micro-batches through the
    REAL ``IncrementalLineDeduper`` — per-batch anti-join against the
    materialized line-hash index, greedy first-writer-wins retention,
    idempotent per-batch commits — and the rewritten corpus must equal
    the oracle's single-statement form of the same fold (the
    equivalence law pinned in ``tests/test_line_dedup_stream.py``).
    Non-vacuous ACROSS batches on the fixture: planted near-dup copies
    land in different ``doc_id % 3`` residues, so removals exercise
    the stored index, not just the within-batch rule. Spark-vs-DuckDB
    parity additionally witnesses that no xxhash64 index-key collision
    occurred (the oracle dedups on raw lines)."""
    from .streaming.line_dedup import IncrementalLineDeduper

    with _scratch(spark, "linededup_q") as base:
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        d = _thirds(IncrementalLineDeduper(spark, base, segment_tokens=10), docs)
        return _held(
            d.deduped(),
            "doc_id long, text_dedup string, n_lines bigint, "
            "n_kept bigint, n_removed bigint",
        )


def _greedy_curation_stages(source: str = "documents") -> str:
    """The CTE-chain fragment (no leading WITH) of the streaming
    curator's greedy first-writer-wins fold over 3 ``doc_id % 3``
    micro-batches of ``source``, ending in final ``SELECT doc_id FROM
    a2`` — composable after other CTEs (the quality-screened variant
    prepends the logreg fit and points ``source`` at its kept set).
    Per batch k: capped-Jaccard pairs over accepted ∪ batch,
    edge-wise rejection (both-new → larger id loses; vs-accepted →
    the new doc loses), survivors join the accepted set the NEXT
    stage screens against. Membership tests reduce to ``doc_id % 3``
    because stage k's gram union contains only accepted docs and
    batch k."""
    stage = """u{k} AS (
      SELECT doc_id, g FROM grams_all
      WHERE doc_id IN (SELECT doc_id FROM a{prev}) OR doc_id % 3 = {k}
    ), c{k} AS (
      SELECT doc_id, g FROM u{k}
      QUALIFY count(*) OVER (PARTITION BY g) <= {cap}
    ), s{k} AS (
      SELECT doc_id, count(*) AS n FROM c{k} GROUP BY doc_id
    ), i{k} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM c{k} a JOIN c{k} b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p{k} AS (
      SELECT id_a, id_b FROM i{k}
      JOIN s{k} sa ON id_a = sa.doc_id
      JOIN s{k} sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), rej{k} AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT CASE
          WHEN id_a % 3 = {k} AND id_b % 3 = {k} THEN id_b
          WHEN id_a % 3 = {k} THEN id_a
          WHEN id_b % 3 = {k} THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{prev}
      UNION ALL
      SELECT doc_id FROM {src}
      WHERE doc_id % 3 = {k}
        AND doc_id NOT IN (SELECT doc_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(
            k=k, prev="_empty" if k == 0 else k - 1, cap=_NGRAM_MAX_DF, src=source
        )
        for k in (0, 1, 2)
    )
    return f"""toks AS (
      SELECT doc_id, {_TOKS} AS t FROM {source}
    ), grams_all AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), a_empty AS (
      SELECT doc_id FROM {source} WHERE 1 = 0
    ), {stages}
    SELECT doc_id FROM a2
    """


def _greedy_curation_oracle() -> str:
    return "\n    WITH " + _greedy_curation_stages("documents")


def _retention_curation_stages(source: str = "documents") -> str:
    """The ``retention='best'`` variant of ``_greedy_curation_stages``
    (round 8): the same capped-Jaccard pair computation per stage, but
    the edge-wise rule is VALUE-AWARE with score(doc) = doc_id % 7 —
    both-new pairs keep the higher score (ties → smaller id), a new
    doc beats an incumbent only on a strictly higher score (ties keep
    the incumbent), and a beaten incumbent is EVICTED unless its
    challenger itself lost some pair. a{k} = (a{prev} − evicted) ∪
    surviving batch docs, so an evicted doc's grams leave the next
    stage's index exactly like the curator's tombstone filter."""
    stage = """u{k} AS (
      SELECT doc_id, g FROM grams_all
      WHERE doc_id IN (SELECT doc_id FROM a{prev}) OR doc_id % 3 = {k}
    ), c{k} AS (
      SELECT doc_id, g FROM u{k}
      QUALIFY count(*) OVER (PARTITION BY g) <= {cap}
    ), s{k} AS (
      SELECT doc_id, count(*) AS n FROM c{k} GROUP BY doc_id
    ), i{k} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM c{k} a JOIN c{k} b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p{k} AS (
      SELECT id_a, id_b,
             CAST(id_a % 7 AS DOUBLE) AS s_a,
             CAST(id_b % 7 AS DOUBLE) AS s_b,
             id_a % 3 = {k} AS na, id_b % 3 = {k} AS nb
      FROM i{k}
      JOIN s{k} sa ON id_a = sa.doc_id
      JOIN s{k} sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), rej{k} AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT CASE
          WHEN na AND nb THEN (CASE WHEN s_a < s_b THEN id_a
                                    WHEN s_b < s_a THEN id_b
                                    ELSE greatest(id_a, id_b) END)
          WHEN na AND NOT nb AND s_a <= s_b THEN id_a
          WHEN nb AND NOT na AND s_b <= s_a THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), ev{k} AS (
      SELECT DISTINCT o AS doc_id FROM (
        SELECT CASE WHEN na AND NOT nb AND s_a > s_b THEN id_b
                    WHEN nb AND NOT na AND s_b > s_a THEN id_a END AS o,
               CASE WHEN na AND NOT nb AND s_a > s_b THEN id_a
                    WHEN nb AND NOT na AND s_b > s_a THEN id_b END AS n
        FROM p{k}
      ) WHERE o IS NOT NULL
        AND n NOT IN (SELECT doc_id FROM rej{k})
    ), a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{prev}
      WHERE doc_id NOT IN (SELECT doc_id FROM ev{k})
      UNION ALL
      SELECT doc_id FROM {src}
      WHERE doc_id % 3 = {k}
        AND doc_id NOT IN (SELECT doc_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(
            k=k, prev="_empty" if k == 0 else k - 1, cap=_NGRAM_MAX_DF, src=source
        )
        for k in (0, 1, 2)
    )
    return f"""toks AS (
      SELECT doc_id, {_TOKS} AS t FROM {source}
    ), grams_all AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), a_empty AS (
      SELECT doc_id FROM {source} WHERE 1 = 0
    ), {stages}
    SELECT doc_id FROM a2
    """


@register(
    "pipeline_streaming_retention",
    oracle="\n    WITH " + _retention_curation_stages("documents"),
)
def pipeline_streaming_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END quality-aware streaming retention (round 8 — r7
    verdict #1): the documents table arrives as three ``doc_id % 3``
    micro-batches through the REAL ``StreamingCorpusCurator`` with
    ``retention='best'`` (score = doc_id % 7, carried as a column the
    way a production pipeline carries its quality score) — incremental
    capped-Jaccard screen, value-aware pair rule, TOMBSTONE evictions
    with un-indexed grams and negative df/hdr deltas, idempotent
    per-batch commits — and the surviving corpus must equal the
    oracle's unrolled greedy-with-replacement fold. Non-vacuous on
    the fixture both ways: planted near-dup copies land in different
    residues with different ``% 7`` scores, so later batches both
    REJECT lower-scoring dups and EVICT accepted ones (asserted in
    ``test_oracle_parity.py::test_retention_policy_nonvacuous``).
    Streaming twin of ``dedup_survivors_best`` (``dedup.py``); the
    reference anchor is the compacted topic's keep-one-per-key
    retention (pulsar.go:160-167) with a value-aware keep rule."""
    from .streaming.curator import StreamingCorpusCurator

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("score", (F.col("doc_id") % 7).cast("double"))
    )
    with _scratch(spark, "retention_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            threshold=0.8,
            max_shingle_freq=_NGRAM_MAX_DF,
            retention="best",
            score_col="score",
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


@register(
    "pipeline_streaming_url_screen",
    oracle=(
        lambda keep: "\n    WITH planted AS MATERIALIZED (\n"
        f"      SELECT doc_id, text, {_URL_PLANT_SQL} AS url FROM documents\n"
        "    ), kept AS MATERIALIZED (\n"
        f"      SELECT doc_id, text FROM planted WHERE {keep}\n"
        "    ), "
    )(
        oracle_url_screen_sql("url", blocked_domains=_URL_BLOCKED_DOMAINS)[
            "keep"
        ]
    )
    + _greedy_curation_stages("kept"),
)
def pipeline_streaming_url_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END URL-screened streaming curation (round 9): the
    crawl-metadata blocklist (``urlops.url_screen`` — IP-literal
    hosts, blocked domains/TLDs, crawler-trap path depths) runs as
    the curator's FIRST pre-screen — a pure codegen projection over
    one string column, upstream even of tokenization, the ordering a
    real web pipeline uses (CCNet/RefinedWeb discard on provenance
    before reading content) — and the dedup fold then runs over the
    provenance-surviving docs only. The oracle chains the generated
    verdict expression (same pattern constants as
    ``crawl_url_screen``) into the unrolled greedy fold; every
    verdict rule fires on the planted fixture, so the accepted set
    measurably differs from plain curation's (non-vacuity pinned in
    test_oracle_parity)."""
    from .streaming.curator import StreamingCorpusCurator

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", _url_plant_col().alias("url"))
    )
    with _scratch(spark, "urlscreen_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            threshold=0.8,
            max_shingle_freq=_NGRAM_MAX_DF,
            url_col="url",
            url_blocked_domains=_URL_BLOCKED_DOMAINS,
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


def _pipeline_repetition_oracle() -> str:
    from .operators.textops import GOPHER_REP_RULES

    conj = "\n        AND ".join(
        f"{name} <= {thr}" for name, thr in GOPHER_REP_RULES
    )
    return (
        f"\n    WITH pages AS MATERIALIZED ({_GOPHER_REP_PAGE_SQL}),\n"
        f"    {_gopher_rep_sig_blocks()},\n"
        f"""    kept AS MATERIALIZED (
      SELECT s.doc_id, p.page AS text
      FROM sig s JOIN pages p USING (doc_id)
      WHERE {conj}
    ), """
        + _greedy_curation_stages("kept")
    )


def _pipeline_funnel_oracle() -> str:
    from .operators.textops import GOPHER_REP_RULES

    conj = "\n        AND ".join(
        f"{name} <= {thr}" for name, thr in GOPHER_REP_RULES
    )
    frag = _greedy_curation_stages("kept")
    frag = frag[: frag.rindex("SELECT doc_id FROM a2")]
    return (
        f"\n    WITH pages AS MATERIALIZED ({_GOPHER_REP_PAGE_SQL}),\n"
        f"    {_gopher_rep_sig_blocks()},\n"
        f"""    kept AS MATERIALIZED (
      SELECT s.doc_id, p.page AS text
      FROM sig s JOIN pages p USING (doc_id)
      WHERE {conj}
    ), """
        + frag
        + """
    SELECT CAST(doc_id % 3 AS INT) AS batch_id, 'ingress' AS stage,
           count(*) AS n
    FROM pages GROUP BY 1
    UNION ALL
    SELECT CAST(doc_id % 3 AS INT), 'repetition', count(*)
    FROM kept GROUP BY 1
    UNION ALL SELECT 0, 'accepted', (SELECT count(*) FROM a0)
    UNION ALL SELECT 1, 'accepted',
        (SELECT count(*) FROM a1) - (SELECT count(*) FROM a0)
    UNION ALL SELECT 2, 'accepted',
        (SELECT count(*) FROM a2) - (SELECT count(*) FROM a1)
    """
    )


@register("pipeline_streaming_funnel", oracle=_pipeline_funnel_oracle())
def pipeline_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curator's screen-funnel LEDGER under the hash gate (round
    10): with ``track_funnel=True`` every batch commits a
    (batch_id, stage, n) accounting partition — ingress size, each
    active screen's survivor count, and the post-dedup accepted
    count — the 'where did my corpus go, per batch' table that
    completes the audit family's streaming side (the datacard covers
    the batch side). The oracle recomputes all nine ledger rows
    independently: per-batch ingress from the plant, the eleven-
    signal repetition verdict, and per-batch accepted deltas from
    the unrolled greedy fold's cumulative accepted sets. The tier is
    deliberately outside the compaction fold — it is history, and
    history is its value."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _gopher_rep_pages(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("page").alias("text")
    )
    with _scratch(spark, "funnelq") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            threshold=0.8,
            max_shingle_freq=_NGRAM_MAX_DF,
            repetition_rules=True,
            track_funnel=True,
        )
        _thirds(cur, docs)
        return _held(cur.funnel(), "batch_id int, stage string, n long")


@register("pipeline_streaming_repetition", oracle=_pipeline_repetition_oracle())
def pipeline_streaming_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END repetition-screened streaming curation (round 10):
    the Gopher Table-A1 repetition rules run as a curator pre-screen
    (``repetition_rules=True``) right behind the URL projection —
    per-row sort+fold verdicts, zero shuffle, no join — and the
    greedy dedup fold sees only non-self-repeating docs. Batches are
    the planted repetition pages (the ``text_gopher_repetition``
    plant), so every rule class fires and the accepted set measurably
    differs from plain curation's. The oracle chains the eleven-
    signal SQL verdict into the unrolled greedy fold."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _gopher_rep_pages(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("page").alias("text")
    )
    with _scratch(spark, "repscreen_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            threshold=0.8,
            max_shingle_freq=_NGRAM_MAX_DF,
            repetition_rules=True,
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


# FineWeb-recipe plant: sentence-per-line pages (every line ends in
# '.') with plants keyed on length(text) — NOT doc_id — so exact-
# duplicate documents build byte-identical pages and the dedup stage
# is non-vacuous. Plants: C4 rejects (lorem %7, curly %11, a short
# 'click here.' line %5, an unpunctuated line %13) and Gopher
# repetition triggers (dup first line %4, 12-token span %6, 2-gram
# phrase x6 %9).
_FINEWEB_PAGE_SQL = """
    SELECT doc_id,
      array_to_string(
        list_transform(range(CAST(ceil(len(pt) / 6.0) AS BIGINT)),
                       i -> array_to_string(pt[i*6+1:i*6+6], ' ') || '.')
        || CASE WHEN L % 4 = 0
                THEN [array_to_string(pt[1:6], ' ') || '.']
                ELSE []::VARCHAR[] END
        || CASE WHEN L % 6 = 0
                THEN [array_to_string(pt[1:12], ' ') || '.']
                ELSE []::VARCHAR[] END
        || CASE WHEN L % 9 = 0
                THEN [array_to_string(
                        list_transform(range(6),
                          j -> array_to_string(pt[1:2], ' ')), ' ') || '.']
                ELSE []::VARCHAR[] END
        || CASE WHEN L % 5 = 0 THEN ['click here.'] ELSE []::VARCHAR[] END
        || CASE WHEN L % 7 = 0
                THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END
        || CASE WHEN L % 11 = 0
                THEN ['function f() { return 1; }'] ELSE []::VARCHAR[] END
        || CASE WHEN L % 13 = 0
                THEN ['no terminal punctuation on this line']
                ELSE []::VARCHAR[] END,
        chr(10)) AS page
    FROM (SELECT doc_id, length(text) AS L,
                 string_split_regex(trim(lower(text)), '\\s+') AS pt
          FROM documents)
"""


def _fineweb_pages(docs: DataFrame, ride: tuple[str, ...] = ()) -> DataFrame:
    from .operators.textops import tokens as _tok

    base = docs.select(
        "doc_id",
        F.length("text").alias("L"),
        _tok("text").alias("pt"),
        *ride,
    )
    pt = F.col("pt")
    n_seg = F.ceil(F.size(pt) / F.lit(6.0)).cast("long")
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), n_seg - 1),
        lambda i: F.concat(
            F.array_join(F.slice(pt, (i * 6 + 1).cast("int"), 6), " "), F.lit(".")
        ),
    )
    empty = F.array().cast("array<string>")

    def plant(mod, arr):
        return F.when(F.col("L") % mod == 0, arr).otherwise(empty)

    sent = lambda a, n: F.concat(F.array_join(F.slice(pt, a, n), " "), F.lit("."))
    phrase = F.concat(
        F.array_join(
            F.array_repeat(F.array_join(F.slice(pt, 1, 2), " "), 6), " "
        ),
        F.lit("."),
    )
    page = F.array_join(
        F.concat(
            lines,
            plant(4, F.array(sent(1, 6))),
            plant(6, F.array(sent(1, 12))),
            plant(9, F.array(phrase)),
            plant(5, F.array(F.lit("click here."))),
            plant(7, F.array(F.lit("lorem ipsum dolor sit amet."))),
            plant(11, F.array(F.lit("function f() { return 1; }"))),
            plant(13, F.array(F.lit("no terminal punctuation on this line"))),
        ),
        "\n",
    )
    return base.select("doc_id", page.alias("page"), *ride)


def _fineweb_oracle() -> str:
    from .operators.textops import GOPHER_REP_RULES

    rep_conj = " AND ".join(f"{n} <= {t}" for n, t in GOPHER_REP_RULES)
    return f"""
    WITH fw AS MATERIALIZED ({_FINEWEB_PAGE_SQL}),
    c4 AS MATERIALIZED (
      SELECT doc_id, page,
        list_filter(
          list_transform(string_split(page, chr(10)),
                         ln -> regexp_replace(ln, '^\\s+|\\s+$', '', 'g')),
          ln -> regexp_matches(ln, '[.!?"]$')
                AND len(string_split_regex(ln, '\\s+')) >= 3
                AND NOT regexp_matches(lower(ln),
                                       '(^|\\s)javascript(\\s|$|[.!?])')
        ) AS kl
      FROM fw
    ), c4v AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN contains(lower(page), 'lorem ipsum') THEN FALSE
             WHEN contains(page, '{{') THEN FALSE
             WHEN len(kl) < 5 THEN FALSE ELSE TRUE END AS c4_kept,
        coalesce(array_to_string(kl, chr(10)), '') AS cleaned
      FROM c4
    ), qt AS (
      SELECT doc_id, string_split_regex(trim(lower(cleaned)), '\\s+') AS toks
      FROM c4v
    ), q AS (
      SELECT doc_id,
        len(toks) >= 20 AND len(toks) <= 100000
        AND (2.0 <= CAST(list_sum(list_transform(toks, x -> length(x)))
                         AS DOUBLE) / len(toks)
             AND CAST(list_sum(list_transform(toks, x -> length(x)))
                      AS DOUBLE) / len(toks) <= 10.0)
        AND CAST(len(list_filter(toks, x -> contains(x, '#')
                                            OR contains(x, '...'))) AS DOUBLE)
              / len(toks) <= 0.1
        AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                 AS DOUBLE) / len(toks) >= 0.8
        AND len(list_filter(toks, x -> x IN {_STOPS})) >= 2 AS quality_kept
      FROM qt
    ), rp AS MATERIALIZED (
      SELECT doc_id, cleaned AS page FROM c4v
    ), {_gopher_rep_sig_blocks(src="rp")},
    rep AS (SELECT doc_id, ({rep_conj}) AS rep_kept FROM sig),
    pass AS MATERIALIZED (
      SELECT v.doc_id, md5(v.cleaned) AS h
      FROM c4v v JOIN q USING (doc_id) JOIN rep USING (doc_id)
      WHERE v.c4_kept AND q.quality_kept AND rep.rep_kept
    ), cm AS (
      SELECT h, min(doc_id) AS cmin FROM pass GROUP BY h
    ), canon AS (
      SELECT p.doc_id, p.doc_id = cm.cmin AS is_canonical
      FROM pass p JOIN cm USING (h)
    )
    SELECT v.doc_id, v.c4_kept, q.quality_kept, rep.rep_kept,
           coalesce(c.is_canonical, FALSE) AS is_canonical,
           (v.c4_kept AND q.quality_kept AND rep.rep_kept
            AND coalesce(c.is_canonical, FALSE)) AS final_keep
    FROM c4v v
    JOIN q USING (doc_id)
    JOIN rep USING (doc_id)
    LEFT JOIN canon c USING (doc_id)
    """


@register("pipeline_fineweb_recipe", oracle=_fineweb_oracle())
def pipeline_fineweb_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published web-corpus recipe end-to-end as ONE declarative
    plan (round 10; the FineWeb/RefinedWeb composition — Penedo et
    al. 2024's pipeline order, built from this engine's own
    operators): C4 line cleaning (Raffel 2020) → Gopher quality rules
    (Rae 2021) → Gopher repetition removal (Rae 2021 §A1.1) → exact
    dedup over the CLEANED text (keep the minimum id per md5 group,
    computed only among docs that passed every filter — the
    filter-then-dedup ordering). Output is the per-document FUNNEL
    (c4_kept, quality_kept, rep_kept, is_canonical, final_keep), the
    observability table a curation team reads to see where its corpus
    went. Plants key on length(text) — not doc_id — so duplicate
    documents build byte-identical pages and the dedup stage is
    non-vacuous.

    Scale shape (round 11 — the r10 verdict's single-scan fusion):
    all three signal families are per-row, so they STACK on one
    linear projection chain over the documents scan — C4 line rules
    and the Gopher quality conjunction as codegen projections, the
    repetition verdict via the Arrow kernel's ``ride`` hook carrying
    (c4_kept, quality_kept, md5) through the same stage — ZERO
    doc_id self-joins. What remains is canonical selection: one
    md5-keyed map-side-combinable aggregate (never a window over
    content hashes) and the join back of that hash-group min onto
    the signal table. The signal table feeds BOTH join sides, so it
    is persisted (LAZY — the zero-job build contract holds; the
    DoReMi excess-table persist is the precedent) and the per-row
    signal compute runs ONCE over ONE documents scan; the handle
    rides ``_pwp_cached`` for ``release_intermediates``. At 100 TB
    the cached table is ~50 bytes/doc (id + 4 booleans + md5) —
    MEMORY_AND_DISK of the narrow table beats re-running the
     25 µs/doc kernel plus a second corpus scan by orders of
    magnitude. Plan-pinned (``test_plan_shape.py::
    test_fineweb_recipe_fused_plan``): ≤ 2 documents scans in the
    static plan (the cache subtree renders once per reference
    pre-materialization), ≤ 3 static Exchanges, ≤ 2 Python stages,
    no doc_id join. Deliberately FILTER-FREE: a keep filter
    above the signal projections would be pushed into the
    gram/line transform lambdas (the 157s-vs-2s PushDownPredicate
    blowup gopher_repetition_screen documents); the pass bit folds
    into the aggregate instead — min(id) over PASSING members per
    md5 group, then is_canonical = pass AND id == that min (false
    AND NULL = false covers all-rejected groups)."""
    from .operators.textops import fineweb_signal_stack

    # round 13: input-layout spread (guide §2.5) — both Arrow signal
    # kernels otherwise ride a one-task scan stage on the driver's
    # single-row-group fixtures; identity on split-able inputs
    docs = _td(spark, sf_dir)
    pages = _fineweb_pages(docs)
    full = fineweb_signal_stack(pages).persist()
    cm = full.groupBy("h").agg(
        F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
    )
    is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
    result = full.join(cm, "h").select(
        "doc_id",
        "c4_kept",
        "quality_kept",
        "rep_kept",
        is_canon.alias("is_canonical"),
        is_canon.alias("final_keep"),
    )
    result._pwp_cached = [full]
    return result


@register("pipeline_streaming_fineweb", oracle=_fineweb_oracle())
def pipeline_streaming_fineweb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb recipe as a MAINTAINED curator tier (round 11 —
    the r10 verdict's sequel to the screen-funnel ledger): with
    ``fineweb_recipe=True`` every micro-batch commits a per-doc
    verdict partition (C4 / quality / repetition / cleaned-md5,
    computed by the SAME ``fineweb_signal_stack`` the batch recipe
    uses), and ``fineweb_funnel()`` derives canonical selection from
    the accumulated rows at read time. The oracle is LITERALLY the
    batch recipe's oracle — the streamed funnel must hash-equal
    running the whole recipe over the same ingress, which holds in
    any arrival order because the per-hash canonical ``min`` is
    order-independent (batches split by doc_id % 3, so minima
    routinely arrive after their duplicates). ``compact_after=1``
    forces a mid-stream compaction, so the hashed read crosses the
    concatenation fold + manifest flip too; the dedup screen is
    simhash (the cheapest text screen — the verdict tier is
    screen-independent, and this also puts the simhash batch path's
    commit gate under the hash). Non-vacuous per stage:
    the plant fails documents through every rung (asserted in
    ``test_streaming_fineweb.py``)."""
    from .streaming.curator import StreamingCorpusCurator

    pages = _fineweb_pages(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("page").alias("text")
    )
    with _scratch(spark, "finewebq") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="simhash",
            fineweb_recipe=True,
            compact_after=1,
        )
        _thirds(cur, pages)
        return _held(
            cur.fineweb_funnel(),
            "doc_id long, c4_kept boolean, quality_kept boolean,"
            " rep_kept boolean, is_canonical boolean, final_keep boolean",
        )


def _fineweb_full_oracle(out: str = "batch") -> str:
    """DuckDB twin of the FULL FineWeb pipeline: URL verdict
    (generated from the same urlops patterns), trigram language ID
    (generated from _LANG_PROFILES — the text_lang_id oracle's
    scoring over the planted page), the recipe's C4/quality/
    repetition CTEs, PII count + sequential redaction (generated
    from PII_PATTERNS), canonical min per md5 among five-verdict
    passers, and the redacted final text for keepers."""
    from .operators import pii
    from .operators.textops import GOPHER_REP_RULES, _LANG_PROFILES
    from .operators.urlops import oracle_url_screen_sql

    rep_conj = " AND ".join(f"{n} <= {t}" for n, t in GOPHER_REP_RULES)
    uf = oracle_url_screen_sql("url", blocked_domains=_URL_BLOCKED_DOMAINS)

    def lscore(grams):
        return "(" + " + ".join(
            f"(len(s) - len(replace(s, '{g}', ''))) / 3" for g in grams
        ) + ")"

    lang_branches = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS lang, {i} AS ord,"
        f" {lscore(grams)} AS score FROM lt"
        for i, (lang, grams) in enumerate(_LANG_PROFILES.items())
    )
    pii_total = " + ".join(
        pii.oracle_count_sql("cleaned", p) for p in pii.PII_PATTERNS.values()
    )
    # out="batch" adds the redacted final_text column (the batch
    # entry's shipped-corpus contract); out="funnel" stops at the
    # verdict ledger (the curator tier stores no text)
    final_text_col = (
        """,
           CASE WHEN coalesce(c.is_canonical, FALSE)
                THEN pv.redacted END AS final_text"""
        if out == "batch"
        else ""
    )
    pages_from_src = _FINEWEB_PAGE_SQL.replace("FROM documents", "FROM src")
    return f"""
    WITH u0 AS (
      SELECT doc_id, text, n_chars, {_URL_PLANT_SQL} AS url FROM documents
    ), src AS MATERIALIZED (
      SELECT doc_id, text, n_chars, url FROM u0
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, text, n_chars, url
      FROM u0 WHERE doc_id % 7 = 0
    ),
    fwp AS MATERIALIZED ({pages_from_src}),
    fwm AS (
      SELECT s.doc_id AS doc_id, s.n_chars AS n_chars,
             s.url AS url, fwp.page AS page
      FROM src s JOIN fwp ON s.doc_id = fwp.doc_id
    ), full0 AS MATERIALIZED (
      SELECT doc_id,
             page || CASE WHEN n_chars % 8 = 0
                THEN chr(10) || 'contact agent' || (n_chars % 97)
                     || '@mail.example.com for details.'
                ELSE '' END AS page,
             url
      FROM fwm
    ), urlv AS (
      SELECT doc_id, {uf['keep']} AS url_kept FROM full0
    ), lt AS MATERIALIZED (
      SELECT doc_id, coalesce(lower(page), '') AS s FROM full0
    ), lsc AS ({lang_branches}),
    lbest AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, ord) AS rn
      FROM lsc
    ), langv AS (
      SELECT doc_id,
             CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
      FROM lbest WHERE rn = 1
    ), c4 AS MATERIALIZED (
      SELECT doc_id, page,
        list_filter(
          list_transform(string_split(page, chr(10)),
                         ln -> regexp_replace(ln, '^\\s+|\\s+$', '', 'g')),
          ln -> regexp_matches(ln, '[.!?"]$')
                AND len(string_split_regex(ln, '\\s+')) >= 3
                AND NOT regexp_matches(lower(ln),
                                       '(^|\\s)javascript(\\s|$|[.!?])')
        ) AS kl
      FROM full0
    ), c4v AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN contains(lower(page), 'lorem ipsum') THEN FALSE
             WHEN contains(page, '{{') THEN FALSE
             WHEN len(kl) < 5 THEN FALSE ELSE TRUE END AS c4_kept,
        coalesce(array_to_string(kl, chr(10)), '') AS cleaned
      FROM c4
    ), qt AS (
      SELECT doc_id, string_split_regex(trim(lower(cleaned)), '\\s+') AS toks
      FROM c4v
    ), q AS (
      SELECT doc_id,
        len(toks) >= 20 AND len(toks) <= 100000
        AND (2.0 <= CAST(list_sum(list_transform(toks, x -> length(x)))
                         AS DOUBLE) / len(toks)
             AND CAST(list_sum(list_transform(toks, x -> length(x)))
                      AS DOUBLE) / len(toks) <= 10.0)
        AND CAST(len(list_filter(toks, x -> contains(x, '#')
                                            OR contains(x, '...'))) AS DOUBLE)
              / len(toks) <= 0.1
        AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                 AS DOUBLE) / len(toks) >= 0.8
        AND len(list_filter(toks, x -> x IN {_STOPS})) >= 2 AS quality_kept
      FROM qt
    ), rp AS MATERIALIZED (
      SELECT doc_id, cleaned AS page FROM c4v
    ), {_gopher_rep_sig_blocks(src="rp")},
    rep AS (SELECT doc_id, ({rep_conj}) AS rep_kept FROM sig),
    piiv AS (
      SELECT doc_id,
             CAST({pii_total} AS BIGINT) AS n_pii,
             {pii.oracle_redact_sql('cleaned')} AS redacted
      FROM c4v
    ), pass AS MATERIALIZED (
      SELECT v.doc_id, md5(v.cleaned) AS h
      FROM c4v v JOIN q USING (doc_id) JOIN rep USING (doc_id)
      JOIN urlv USING (doc_id) JOIN langv USING (doc_id)
      WHERE v.c4_kept AND q.quality_kept AND rep.rep_kept
        AND urlv.url_kept AND langv.lang_pred = 'en'
    ), cm AS (
      SELECT h, min(doc_id) AS cmin FROM pass GROUP BY h
    ), canon AS (
      SELECT p.doc_id, p.doc_id = cm.cmin AS is_canonical
      FROM pass p JOIN cm USING (h)
    )
    SELECT v.doc_id, u.url_kept, l.lang_pred,
           l.lang_pred = 'en' AS lang_kept,
           v.c4_kept, q.quality_kept, rep.rep_kept,
           pv.n_pii,
           coalesce(c.is_canonical, FALSE) AS is_canonical,
           coalesce(c.is_canonical, FALSE) AS final_keep{final_text_col}
    FROM c4v v
    JOIN urlv u USING (doc_id)
    JOIN langv l USING (doc_id)
    JOIN q USING (doc_id)
    JOIN rep USING (doc_id)
    JOIN piiv pv USING (doc_id)
    LEFT JOIN canon c USING (doc_id)
    """


def _fineweb_full_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, page, url) for the full-pipeline entries: the
    recipe's length-keyed pages + a length-keyed PII contact line on
    ``n_chars % 8`` docs + the crawl_url_screen URL plant + MIRRORS
    (every 7th doc copied at doc_id+10⁷ inheriting its original's
    URL, so the copied pair shares all five verdicts and the dedup
    rung fires deterministically)."""
    # §2.5 spread: the lang-id + repetition Arrow kernels downstream
    # are the pipeline's cost; both union sides reuse one exchange
    docs = _td(spark, sf_dir)
    base = docs.select(
        "doc_id", "text", "n_chars", _url_plant_col().alias("url")
    )
    src = base.unionByName(
        base.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        )
    )
    pages = _fineweb_pages(src, ride=("n_chars", "url"))
    pii_line = F.when(
        F.col("n_chars") % 8 == 0,
        F.concat(
            F.lit("\ncontact agent"),
            (F.col("n_chars") % 97).cast("string"),
            F.lit("@mail.example.com for details."),
        ),
    ).otherwise(F.lit(""))
    return pages.select(
        "doc_id",
        F.concat(F.col("page"), pii_line).alias("page"),
        "url",
    )


@register("pipeline_fineweb_full", oracle=_fineweb_full_oracle())
def pipeline_fineweb_full_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL published FineWeb pipeline end-to-end (round 12 —
    the r11 verdict's composition ask): Penedo et al. 2024 run URL
    filtering and language ID AROUND the C4/Gopher core and
    anonymize PII on the output; this entry chains all of it —
    URL blocklist → trigram language ID (keep-English) → C4 line
    cleaning → Gopher quality → Gopher repetition → exact dedup of
    the cleaned text (canonical min per md5 among five-verdict
    passers — the filter-then-dedup ordering; the near-dup variant
    is the curator's minhash screen) → PII redaction of the
    surviving text. Output is the per-document funnel plus
    ``final_text`` (the redacted cleaned text for keepers, NULL
    otherwise) — what the pipeline actually ships.

    Plant: the recipe's length-keyed pages, a PII contact line on
    ``n_chars % 8`` docs (length-keyed, so copies agree), the
    crawl_url_screen URL plant (IP hosts, blocked domains/TLDs,
    trap paths), and MIRRORS — every 7th doc copied at doc_id+10⁷
    inheriting its original's URL, so the copied pair shares all
    five verdicts and the dedup rung fires deterministically (the
    corpus itself has no exact-duplicate texts; the recipe's only
    md5 pairs are pages that clean down identically, and those
    rarely survive the URL rung). Every rung non-vacuous, asserted
    by ``tests/test_llm_ops.py::test_fineweb_full_funnel_nonvacuous``.

    Scale shape: the ``fineweb_full_stack`` fusion — ONE documents
    scan, URL/C4/quality/PII as codegen projections, language ID
    and repetition as the two Arrow stages (verdicts ride the
    ``c4_line_filters``/``gopher_repetition`` ride hooks, zero
    doc_id joins), then the recipe's one md5-keyed aggregate
    exchange + join-back with the signal table persisted LAZILY
    (~50 bytes/doc + the redacted text) feeding both sides."""
    from .operators.textops import fineweb_full_stack

    planted = _fineweb_full_plant(spark, sf_dir)
    full = fineweb_full_stack(
        planted, blocked_domains=_URL_BLOCKED_DOMAINS
    ).persist()
    cm = full.groupBy("h").agg(
        F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
    )
    is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
    result = full.join(cm, "h").select(
        "doc_id",
        "url_kept",
        "lang_pred",
        "lang_kept",
        "c4_kept",
        "quality_kept",
        "rep_kept",
        "n_pii",
        is_canon.alias("is_canonical"),
        is_canon.alias("final_keep"),
        F.when(is_canon, F.col("redacted")).alias("final_text"),
    )
    result._pwp_cached = [full]
    return result


@register(
    "pipeline_streaming_fineweb_full",
    oracle=_fineweb_full_oracle(out="funnel"),
)
def pipeline_streaming_fineweb_full_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL FineWeb pipeline as a MAINTAINED curator tier (round
    12 — the batch entry's streamed twin): with
    ``fineweb_recipe="full"`` every micro-batch commits the complete
    published rung set per ingress doc (URL verdict, language ID,
    C4, quality, repetition, PII count — computed by the SAME
    ``fineweb_full_stack`` the batch entry uses), and
    ``fineweb_funnel()`` derives canonical selection at read. The
    oracle is the batch oracle's funnel projection — the streamed
    tier must hash-equal running the whole pipeline over the same
    ingress, in any arrival order, across a compaction and manifest
    flip (per-hash canonical min is order-independent; verdict rows
    are immutable per-doc facts). The mode FREEZES into the policy
    record (the two modes store different verdict schemas); the tier
    deliberately stores NO text — redaction is a stateless codegen
    projection over the accepted corpus."""
    from .streaming.curator import StreamingCorpusCurator

    planted = _fineweb_full_plant(spark, sf_dir).withColumnRenamed(
        "page", "text"
    )
    with _scratch(spark, "fwfull_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="simhash",
            fineweb_recipe="full",
            url_blocked_domains=_URL_BLOCKED_DOMAINS,
            compact_after=1,
        )
        _thirds(cur, planted)
        return _held(
            cur.fineweb_funnel(),
            "doc_id long, url_kept boolean, lang_pred string,"
            " lang_kept boolean, c4_kept boolean, quality_kept boolean,"
            " rep_kept boolean, n_pii bigint, is_canonical boolean,"
            " final_keep boolean",
        )


@register(
    "audit_fineweb_full_datacard",
    # the batch full oracle wrapped as a subquery, rolled up to the
    # cumulative per-stage funnel counts in pipeline order
    oracle=f"""
    WITH base AS ({_fineweb_full_oracle(out="funnel")})
    SELECT ord, stage, n_docs,
           round(n_docs / CAST((SELECT count(*) FROM base) AS DOUBLE), 6)
             AS rate
    FROM (
      SELECT 1 AS ord, 'ingress' AS stage, count(*) AS n_docs FROM base
      UNION ALL SELECT 2, 'url', count(*) FROM base WHERE url_kept
      UNION ALL SELECT 3, 'language', count(*) FROM base
        WHERE url_kept AND lang_kept
      UNION ALL SELECT 4, 'c4', count(*) FROM base
        WHERE url_kept AND lang_kept AND c4_kept
      UNION ALL SELECT 5, 'quality', count(*) FROM base
        WHERE url_kept AND lang_kept AND c4_kept AND quality_kept
      UNION ALL SELECT 6, 'repetition', count(*) FROM base
        WHERE url_kept AND lang_kept AND c4_kept AND quality_kept
          AND rep_kept
      UNION ALL SELECT 7, 'dedup', count(*) FROM base WHERE final_keep
      UNION ALL SELECT 8, 'pii_redacted', count(*) FROM base
        WHERE final_keep AND n_pii > 0
    )
    ORDER BY ord
    """,
)
def audit_fineweb_full_datacard_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 'where did my corpus go' DATA CARD for the full FineWeb
    pipeline (round 12 — the observability rollup a curation team
    publishes next to a release): cumulative survivor counts and
    rates through the pipeline order — ingress → URL → language →
    C4 → quality → repetition → dedup — plus how many of the final
    keepers shipped with PII redactions applied. Rates are against
    ingress, so the card reads as the published funnel (FineWeb's
    own paper reports exactly this table shape).

    Plan: the shared ``fineweb_full_stack`` + canonical min (the
    batch entry's plan), then ONE map-side-combinable aggregate of
    eight conditional sums over the funnel — no per-stage rescans —
    unpivoted to stage rows with ``stack``. The 1-row aggregate is
    the only addition to the batch entry's plan."""
    from .operators.textops import fineweb_datacard_rollup, fineweb_full_stack

    planted = _fineweb_full_plant(spark, sf_dir)
    full = fineweb_full_stack(
        planted, blocked_domains=_URL_BLOCKED_DOMAINS
    ).persist()
    cm = full.groupBy("h").agg(
        F.min(F.when(F.col("pass"), F.col("doc_id"))).alias("cmin")
    )
    is_canon = F.col("pass") & (F.col("doc_id") == F.col("cmin"))
    fun = full.join(cm, "h").select(
        "url_kept", "lang_kept", "c4_kept", "quality_kept", "rep_kept",
        "n_pii", is_canon.alias("final_keep"),
    )
    out = fineweb_datacard_rollup(fun)
    out._pwp_cached = [full]
    return out


@register("pipeline_streaming_curation", oracle=_greedy_curation_oracle())
def pipeline_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming curation, hash-checked: the documents
    table arrives as three micro-batches (doc_id % 3, in order)
    through the REAL StreamingCorpusCurator — incremental capped-
    Jaccard screen against the materialized index, greedy
    first-writer-wins rejection, idempotent per-batch state commits —
    and the accepted corpus must equal the oracle's unrolled
    recursive statement of the same greedy fold. This puts the whole
    operational loop (not just its operators) under the driver's
    hash gate."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch(spark, "curation_q") as base:
        cur = StreamingCorpusCurator(
            spark, base, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


@register(
    "pipeline_streaming_quality",
    # MATERIALIZED is load-bearing: the greedy stages reference `kept`
    # many times and DuckDB's default CTE inlining would multiply the
    # whole unrolled-GD chain (and its parquet opens) into each
    # reference — measured fd exhaustion at the 20k limit without it
    oracle=_logreg_cte(iters=6, lr=2.0)
    + """
    , kept AS MATERIALIZED (
      SELECT d.doc_id, d.text FROM documents d
      JOIN scored USING (doc_id) WHERE scored.keep
    ), """
    + _greedy_curation_stages("kept"),
)
def pipeline_streaming_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END quality-gated streaming curation (round 7 — the
    ``pipeline_quality_dedup`` ordering run INCREMENTALLY through the
    real curator): the learned quality classifier is fitted on the
    corpus, persisted as a model sidecar, and every micro-batch is
    pre-screened by ``StreamingCorpusCurator(quality_model_path=…)``
    — a zero-shuffle literal-weight projection — before the
    incremental capped-Jaccard dedup screen and the greedy
    first-writer-wins fold. The oracle replays the ENTIRE chain:
    z-scoring + unrolled GD CTEs → threshold-kept set → the 3-stage
    greedy curation fold over kept docs only. A quality-rejected doc
    is never indexed, so it also never rejects a later near-dup —
    the composition, not just the stages, is what the hash checks."""
    from .operators import classifier
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats_raw = classifier.quality_features(docs, label=F.length("text") >= 400)
    stats = classifier.feature_stats(feats_raw)
    feats = classifier.standardize(feats_raw, stats=stats).persist()
    w = classifier.logreg_fit(feats, iters=6, lr=2.0)
    feats.unpersist()
    with _scratch(spark, "curation_qual") as base:
        model_path = f"{base}/quality_model.json"
        classifier.save_model(model_path, w, stats)
        cur = StreamingCorpusCurator(
            spark, base, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            quality_model_path=model_path, quality_threshold=0.5,
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


@register(
    "pipeline_streaming_decontamination",
    oracle="""
    WITH toks0 AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), gr AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM toks0 WHERE len(w) >= 3
    ), bloom AS (
      SELECT DISTINCT CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM (SELECT DISTINCT g FROM gr WHERE doc_id % 83 = 0)
      CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), corpg AS (
      SELECT doc_id, g FROM gr WHERE doc_id % 83 <> 0
    ), probe AS (
      SELECT doc_id, g, i,
             CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM corpg CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), hitg AS (
      SELECT doc_id, g FROM probe JOIN bloom USING (pos)
      GROUP BY doc_id, g HAVING count(DISTINCT i) = 3
    ), sz AS (
      SELECT doc_id, count(*) AS ng FROM corpg GROUP BY 1
    ), nh AS (
      SELECT doc_id, count(*) AS nh FROM hitg GROUP BY 1
    ), bad AS (
      SELECT sz.doc_id FROM sz LEFT JOIN nh USING (doc_id)
      WHERE CAST(coalesce(nh.nh, 0) AS DOUBLE) / sz.ng >= 0.1
    ), kept AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 83 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    ), """
    + _greedy_curation_stages("kept"),
)
def pipeline_streaming_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END decontaminated streaming curation (round 7): the
    benchmark set (every 83rd doc) is persisted as a
    ``sketch.write_bloom`` artifact, and the rest of the corpus flows
    through ``StreamingCorpusCurator(contamination_bloom_path=…)`` in
    three micro-batches — every batch Bloom-screened (docs with ≥10%
    maybe-hit shingles rejected and never indexed) before the
    incremental capped-Jaccard dedup and the greedy fold. The oracle
    replays the WHOLE chain, rebuilding the filter's positions
    bit-for-bit — false positives included — so the hash pins the
    production composition: a contaminated doc never enters the
    corpus AND never rejects a later near-dup."""
    from .operators import sketch, textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 83 == 0)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    with _scratch(spark, "curation_decon") as base:
        bloom_path = f"{base}/bench_bloom"
        sketch.write_bloom(
            textops.exploded_ngrams(bench, n=3).select("g").distinct(),
            bloom_path, key="g", m_bits=131072, k=3,
        )
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur", threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            contamination_bloom_path=bloom_path,
            contamination_max_fraction=0.1,
        )
        _thirds(cur, corpus)
        return _held(cur.accepted(), "doc_id long")


@register("pipeline_curation_compacted", oracle=_greedy_curation_oracle())
def pipeline_curation_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME end-to-end streaming curation fold as
    ``pipeline_streaming_curation`` — same batches, same oracle — but
    with state compaction firing after EVERY micro-batch
    (``compact_after=0``): each batch's screen runs against the
    compacted bucketed tier (+ at most one live dir), every committed
    directory is folded through the versioned-manifest cutover, and
    the accepted corpus must still hash-match the greedy oracle. This
    puts the compaction machinery itself — fold, atomic flip, covered-
    partition exclusion, directory cleanup — under the driver's hash
    gate, not just under pytest."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch(spark, "curation_cq") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            threshold=0.8,
            max_shingle_freq=_NGRAM_MAX_DF,
            compact_after=0,
            n_buckets=8,
        )
        try:
            _thirds(cur, docs)
            man = cur._manifest()
            assert man is not None and man["covered_upto"] == 2  # it really ran
            return _held(cur.accepted(), "doc_id long")
        finally:
            for v in range(4):  # external-table catalog entries are per-run
                for sfx in ("grams_by_g", "df_by_g"):
                    spark.sql(
                        f"DROP TABLE IF EXISTS {cur.catalog_prefix}_v{v}_{sfx}"
                    )


@register(
    "text_gopher_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sig AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS mean_word_len,
             CAST(len(list_filter(toks, x -> contains(x, '#')
                                            OR contains(x, '...'))) AS DOUBLE)
               / len(toks) AS symbol_ratio,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / len(toks) AS alpha_ratio,
             CAST(len(list_filter(toks, x -> x IN {_STOPS})) AS BIGINT) AS n_stopwords
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, n_stopwords,
           failed_rules = '' AS keep, failed_rules
    FROM (
      SELECT *,
             concat_ws(',',
               CASE WHEN n_words < 20 THEN 'too_few_words' END,
               CASE WHEN n_words > 100000 THEN 'too_many_words' END,
               CASE WHEN NOT (2.0 <= mean_word_len AND mean_word_len <= 10.0)
                    THEN 'mean_word_len' END,
               CASE WHEN symbol_ratio > 0.1 THEN 'symbol_ratio' END,
               CASE WHEN alpha_ratio < 0.8 THEN 'alpha_ratio' END,
               CASE WHEN n_stopwords < 2 THEN 'stopwords' END) AS failed_rules
      FROM sig
    )
    """,
)
def text_gopher_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 heuristics): all
    measured signals + keep verdict + failed-rule list, as pure JVM
    column expressions over one tokenization — a projection on the
    scan, no shuffle at any scale."""
    from .operators import textops

    return textops.gopher_quality_filter(_t(spark, sf_dir, "documents"))


@register(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT doc_id AS n, doc_id AS m FROM documents
      UNION
      SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
    ), clusters AS (
      SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id = c.cluster
    """,
)
def dedup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: near-dup pairs → connected
    components → keep the min-id representative per cluster
    (singletons survive untouched). The terminal dataset-producing
    step of the dedup family."""
    from .operators import dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.8,
        max_shingle_freq=_NGRAM_MAX_DF,
    )
    return dedup.dedup_survivors(docs, pairs)


@register(
    "domain_topk_docs",
    oracle="""
    SELECT doc_id, source, n_chars, rank_in_domain FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC)
               AS rank_in_domain
      FROM documents
    ) WHERE rank_in_domain <= 3
    """,
)
def domain_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap: keep the top-3 documents per source by
    size (ties → lowest doc_id). One shuffle on the domain key; only
    k rows per domain survive the stage."""
    from .operators import curation

    return curation.domain_topk(_t(spark, sf_dir, "documents"), k=3)


@register(
    "quota_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    ) WHERE cum_tokens <= 800
    """,
)
def quota_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain TOKEN-budget quota (mixing recipes quota tokens, not
    doc counts): greedy best-first prefix per source while the running
    token sum stays ≤ 800. Same single domain-key exchange as the
    top-k quota; the budget walk is a rank-window running sum."""
    from .operators import curation

    return curation.token_budget_quota(
        _t(spark, sf_dir, "documents"), budget=800
    )


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), a AS (
      SELECT avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('hash', 'join', 'merge') GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), per_doc AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(round(
               ln(1.0 + (CAST(n.n_docs AS DOUBLE) - dfq.df + 0.5)
                        / (CAST(dfq.df AS DOUBLE) + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / a.avgdl))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
      FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN n CROSS JOIN a
      GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25_micro, rnk FROM (
      SELECT doc_id, bm25_micro,
             CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC)
                  AS INT) AS rnk
      FROM per_doc
    ) WHERE rnk <= 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Lucene idf, k1=1.2, b=0.75) of the top-20 docs
    for the probe query 'hash join merge' — relevance mining over the
    corpus. Per-term scores scaled to micro-units and summed as
    bigints so the ranking is partitioning-independent; top-k is
    TakeOrdered (k·partitions rows move), the rank window only ever
    sees the 20 survivors."""
    from .operators import textops

    return textops.bm25_topk(
        _t(spark, sf_dir, "documents"), ["hash", "join", "merge"], k=20
    )


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), base AS (
      SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct
      FROM toks
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])) AS g
      FROM toks WHERE len(w) >= 2
    ), bgc AS (
      SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
    ), bga AS (
      SELECT doc_id, max(c) AS top_c, sum(c) AS total FROM bgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           round(1 - CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
           round(coalesce(CAST(top_c AS DOUBLE) / total, 0), 6) AS top_bigram_frac
    FROM base b LEFT JOIN bga USING (doc_id)
    """,
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition quality signals
    (duplicate-word fraction, top-bigram mass) — scalar array exprs on
    the scan plus one map-side-combinable (doc, gram) count."""
    from .operators import textops

    return textops.repetition_signals(_t(spark, sf_dir, "documents"))


@register(
    "text_benchmark_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS w FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(w) - 2),
                                   i -> array_to_string(w[i:i+3], ' '))) AS g
      FROM toks WHERE len(w) >= 4
    ), bench AS (
      SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 83 = 0
    ), corp AS (
      SELECT doc_id, g FROM g WHERE doc_id % 83 <> 0
    ), sizes AS (
      SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id
    ), hits AS (
      SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      FROM corp c JOIN bench b USING (g)
      GROUP BY c.doc_id, b.bench_id
    )
    SELECT doc_id, bench_id, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_grams, 6) AS overlap
    FROM hits JOIN sizes USING (doc_id)
    WHERE round(CAST(n_shared AS DOUBLE) / n_grams, 6) >= 0.1
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY overlap DESC, bench_id ASC) = 1
    """,
)
def text_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination screen: corpus docs sharing ≥10% of their
    distinct word 4-grams with an eval/benchmark set (here: every
    83rd doc plays the benchmark). Inverted-index equi-join on the
    shingle, benchmark side broadcast — never corpus × benchmark."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 83 == 0)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    return curation.benchmark_contamination(corpus, bench, n=4, min_overlap=0.1)


@register(
    "pack_training_sequences",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens, rn,
             CAST(0 AS BIGINT) AS seq_id, n_tokens AS acc
      FROM toks WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN p.acc + t.n_tokens > 2048
                  THEN p.seq_id + 1 ELSE p.seq_id END,
             CASE WHEN p.acc + t.n_tokens > 2048
                  THEN t.n_tokens ELSE p.acc + t.n_tokens END
      FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, seq_id FROM packed
    """,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing: documents (ordered by
    doc_id within source) packed into 2048-token training sequences.
    Sequential per group by definition → one vectorized pass per
    group via applyInPandas; groups are the parallelism unit. The
    oracle states the same fold as a recursive CTE."""
    from .operators import curation, textops

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", textops.token_count("text").alias("n_tokens")
    )
    return curation.pack_sequences(docs, capacity=2048)


@register(
    "mix_domain_weighted_sample",
    oracle="""
    WITH rated AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))
                  AS UBIGINT) % 1000000 AS b,
             CASE WHEN source IN ('src0','src1','src2') THEN 1.0
                  WHEN source IN ('src3','src4','src5') THEN 0.5
                  ELSE 0.25 END AS rate
      FROM documents
    )
    SELECT doc_id, source FROM rated
    WHERE b < CAST(rate * 1000000 AS BIGINT)
    """,
)
def mix_domain_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: deterministic stratified sampling toward target
    per-domain rates (keep all of src0-2, half of src3-5, a quarter of
    the rest — the Pile/DoReMi-style reweighting step). Membership is
    a salted md5 of the doc key: reproducible, monotone in the rate,
    zero shuffles."""
    from .operators import curation

    docs = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 1.0, "src2": 1.0,
             "src3": 0.5, "src4": 0.5, "src5": 0.5}
    return curation.weighted_domain_sample(
        docs, rates, default_rate=0.25
    ).select("doc_id", "source")


@register(
    "time_rollup_multires",
    oracle=f"""
    SELECT 'hour' AS resolution, date_trunc('hour', ts) AS bucket,
           count(*) AS n_events, {sql_dsum("value")} AS sum_value
    FROM events GROUP BY bucket
    UNION ALL
    SELECT 'day', date_trunc('day', ts),
           count(*), {sql_dsum("value")}
    FROM events GROUP BY 2
    UNION ALL
    SELECT 'week', date_trunc('week', ts),
           count(*), {sql_dsum("value")}
    FROM events GROUP BY 2
    """,
)
def time_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous aggregate (the hypertable-rollup
    pattern): event counts + exact sums at hour/day/week grain.

    HIERARCHICAL, single scan: the raw table is aggregated ONCE at
    hour grain (the finest — the only shuffle proportional to the
    data), then each hour row is exploded to its three (resolution,
    bucket) targets and re-aggregated — a second shuffle over just
    3×|hour-buckets| rows. A naive per-grain union would scan and
    shuffle the raw table three times (verified: Catalyst does NOT
    reuse the shared subtree across union branches here). Exactness:
    per-bucket sums are decimal (dsum) and decimal addition is
    associative, so re-aggregating hour sums equals the oracle's flat
    per-grain sums bit-for-bit."""
    ev = _t(spark, sf_dir, "events").select("ts", "value")
    hour = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value")
    )
    targets = F.array(
        F.struct(F.lit("hour").alias("resolution"), F.col("bucket").alias("bucket")),
        F.struct(
            F.lit("day").alias("resolution"),
            F.date_trunc("day", F.col("bucket")).alias("bucket"),
        ),
        F.struct(
            F.lit("week").alias("resolution"),
            F.date_trunc("week", F.col("bucket")).alias("bucket"),
        ),
    )
    return (
        hour.select(F.explode(targets).alias("rb"), "n_events", "sum_value")
        .groupBy(
            F.col("rb.resolution").alias("resolution"),
            F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.sum("n_events").alias("n_events"), dsum("sum_value").alias("sum_value"))
    )


@register(
    "stream_t8_windowed",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
           "type", count(*) AS n
    FROM read_parquet('{GAME_EVENTS_PATH}')
    GROUP BY window_start, "type"
    """,
)
def stream_t8_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 executed as a REAL streaming query: readStream → watermarked
    tumbling event-time window → availableNow memory sink, final state
    hash-matching the batch GROUP BY oracle — windowed streaming ==
    batch, verified by the driver itself (complements stream_a1's
    unwindowed stateful count)."""
    from .schema import GAME_EVENT_SCHEMA
    from .streaming.pipeline import streaming_windowed_type_counts

    return _run_streamed_fixture(
        spark,
        GAME_EVENTS_PATH,
        GAME_EVENT_SCHEMA,
        streaming_windowed_type_counts,
        "stream_t8",
    )


@register(
    "w_analytics_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER by_price AS price_dense_rank,
           ntile(4)     OVER by_date  AS date_quartile,
           lead(o_totalprice) OVER by_date AS next_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    WINDOW by_price AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey),
           by_date  AS (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)
    """,
)
def w_analytics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window completeness probe (SURVEY §2.12): dense_rank,
    ntile, lead, and an explicit ROWS frame (decimal-exact running
    sum) in one pass. Both window specs partition on the same key, so
    the whole suite is ONE exchange on o_custkey + two in-partition
    sorts."""
    from .oracle import DEC

    o = _t(spark, sf_dir, "orders")
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    by_date = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = by_date.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(by_price).alias("price_dense_rank"),
        F.ntile(4).over(by_date).alias("date_quartile"),
        F.lead("o_totalprice").over(by_date).alias("next_price"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(running)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "t8b_sliding_window",
    oracle=f"""
    WITH cand AS (
      SELECT value,
             unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes']) AS window_start
      FROM events
    )
    SELECT window_start, count(*) AS n_events,
           {sql_dsum("value")} AS sum_value
    FROM cand GROUP BY window_start
    """,
)
def t8b_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 sliding (hopping) event-time window: 10-minute windows
    every 5 minutes — each event lands in exactly width/slide = 2
    windows. Spark's ``window()`` expands rows then aggregates
    (partial agg before the single exchange); the oracle states the
    same expansion with unnest. Decimal-exact sums both sides."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "n_events", "sum_value"
        )
    )


def _greedy_embedding_curation_oracle(threshold: float = 0.9975) -> str:
    """Unrolled 3-stage SQL statement of the embedding curator's
    greedy first-writer-wins fold on the clustered fixture: per batch
    k (vec_id % 3), cosine pairs over accepted ∪ batch, edge-wise
    rejection (both-new → larger id loses; vs-accepted → the new doc
    loses), survivors join the accepted set the next stage screens
    against. The curator's LSH candidate generation provably covers
    every qualifying pair on this fixture (see
    dedup_incremental_embedding), so the screen equals this exact
    statement."""
    stage = """u{k} AS (
      SELECT vec_id, vec FROM v
      WHERE vec_id IN (SELECT vec_id FROM a{prev}) OR vec_id % 3 = {k}
    ), p{k} AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM u{k} a JOIN u{k} b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vec, b.vec)
                  / (sqrt(list_dot_product(a.vec, a.vec))
                     * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {thr}
    ), rej{k} AS (
      SELECT DISTINCT d AS vec_id FROM (
        SELECT CASE
          WHEN id_a % 3 = {k} AND id_b % 3 = {k} THEN id_b
          WHEN id_a % 3 = {k} THEN id_a
          WHEN id_b % 3 = {k} THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT vec_id FROM a{prev}
      UNION ALL
      SELECT vec_id FROM v
      WHERE vec_id % 3 = {k}
        AND vec_id NOT IN (SELECT vec_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(k=k, prev="_empty" if k == 0 else k - 1, thr=threshold)
        for k in (0, 1, 2)
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), a_empty AS (
      SELECT vec_id FROM v WHERE 1 = 0
    ), {stages}
    SELECT vec_id FROM a2
    """


@register(
    "pipeline_embedding_curation", oracle=_greedy_embedding_curation_oracle()
)
def pipeline_embedding_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming curation over an EMBEDDED corpus,
    hash-checked: the clustered vectors arrive as three micro-batches
    (vec_id % 3, in order) through the real StreamingCorpusCurator
    with the semantic screen — hyperplane-bucket candidates against
    the accumulated (vec, sig) state, exact-cosine verify at 0.9975
    (within-cluster sims span ~0.996-0.999, so acceptance is
    data-dependent, not degenerate), greedy first-writer-wins
    rejection, idempotent per-batch commits — and the accepted set
    must equal the oracle's unrolled statement of the same greedy
    fold. The embedding sibling of `pipeline_streaming_curation`.
    ``vec_format='float64'`` pins the uncompressed state path (series
    continuity — this oracle's cosines are over the raw vectors); the
    round-8 int8 state tier has its own end-to-end hash gate,
    ``pipeline_embedding_curation_int8``."""
    from .streaming.curator import StreamingCorpusCurator

    v = _clustered_embeddings(spark, sf_dir)
    with _scratch(spark, "embcur_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="embedding",
            id_col="vec_id",
            emb_dim=64,
            threshold=0.9975,
            num_planes=4,
            num_tables=16,
            vec_format="float64",
        )
        _thirds(cur, v, "vec_id")
        return _held(cur.accepted(), "vec_id long")


def _retention_embedding_oracle(threshold: float = 0.9975) -> str:
    """Unrolled twin of the embedding screen under ``retention='best'``
    (round 8): the ``_greedy_embedding_curation_oracle`` stages with
    the value-aware pair rules of ``_retention_curation_stages`` —
    score(vec) = vec_id % 7; both-new pairs keep the higher score
    (ties → smaller id), a challenger beats an incumbent only on a
    strictly higher score, and a beaten incumbent is evicted unless
    its challenger lost some pair; a{k} = (a{prev} − evicted) ∪
    surviving batch."""
    stage = """u{k} AS (
      SELECT vec_id, vec FROM v
      WHERE vec_id IN (SELECT vec_id FROM a{prev}) OR vec_id % 3 = {k}
    ), p{k} AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(a.vec_id % 7 AS DOUBLE) AS s_a,
             CAST(b.vec_id % 7 AS DOUBLE) AS s_b,
             a.vec_id % 3 = {k} AS na, b.vec_id % 3 = {k} AS nb
      FROM u{k} a JOIN u{k} b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vec, b.vec)
                  / (sqrt(list_dot_product(a.vec, a.vec))
                     * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {thr}
    ), rej{k} AS (
      SELECT DISTINCT d AS vec_id FROM (
        SELECT CASE
          WHEN na AND nb THEN (CASE WHEN s_a < s_b THEN id_a
                                    WHEN s_b < s_a THEN id_b
                                    ELSE greatest(id_a, id_b) END)
          WHEN na AND NOT nb AND s_a <= s_b THEN id_a
          WHEN nb AND NOT na AND s_b <= s_a THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), ev{k} AS (
      SELECT DISTINCT o AS vec_id FROM (
        SELECT CASE WHEN na AND NOT nb AND s_a > s_b THEN id_b
                    WHEN nb AND NOT na AND s_b > s_a THEN id_a END AS o,
               CASE WHEN na AND NOT nb AND s_a > s_b THEN id_a
                    WHEN nb AND NOT na AND s_b > s_a THEN id_b END AS n
        FROM p{k}
      ) WHERE o IS NOT NULL
        AND n NOT IN (SELECT vec_id FROM rej{k})
    ), a{k} AS MATERIALIZED (
      SELECT vec_id FROM a{prev}
      WHERE vec_id NOT IN (SELECT vec_id FROM ev{k})
      UNION ALL
      SELECT vec_id FROM v
      WHERE vec_id % 3 = {k}
        AND vec_id NOT IN (SELECT vec_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(k=k, prev="_empty" if k == 0 else k - 1, thr=threshold)
        for k in (0, 1, 2)
    )
    return f"""
    WITH v AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), a_empty AS (
      SELECT vec_id FROM v WHERE 1 = 0
    ), {stages}
    SELECT vec_id FROM a2
    """


@register(
    "pipeline_embedding_retention", oracle=_retention_embedding_oracle()
)
def pipeline_embedding_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`retention='best'` on the EMBEDDING screen (round 8 — closing
    the policy gap the text screens' retention left): a later
    higher-scoring semantic near-dup evicts its accepted incumbent
    through the same tombstone tier, with the vec and sig state
    filtered by vec id; the oracle unrolls the greedy-with-replacement
    fold over exact cosines on the clustered fixture (LSH candidate
    coverage provable at the 4×16 geometry, the
    ``dedup_embedding_lsh_clustered`` argument)."""
    from .streaming.curator import StreamingCorpusCurator

    v = _clustered_embeddings(spark, sf_dir).withColumn(
        "score", (F.col("vec_id") % 7).cast("double")
    )
    with _scratch(spark, "embret_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="embedding",
            id_col="vec_id",
            emb_dim=64,
            threshold=0.9975,
            num_planes=4,
            num_tables=16,
            vec_format="float64",
            retention="best",
            score_col="score",
        )
        _thirds(cur, v, "vec_id")
        return _held(cur.accepted(), "vec_id long")


def _greedy_embedding_curation_oracle_int8(threshold: float = 0.9975) -> str:
    """The int8-state variant of the unrolled embedding-curation fold
    (round 8): every vector is first replaced by its per-vector
    symmetric int8 reconstruction v̂ = round(v / s) * s with s =
    max|v| / 127 — EXACTLY the curator's ``with_int8_codes`` quantizer
    (Spark round and DuckDB round are both half-away-from-zero over
    identical doubles, so v̂ is bit-equal in both engines) — and the
    same greedy fold runs over v̂. The screen's cosines therefore
    shift by real quantization error and decisions near the 0.9975
    threshold are data-dependent; the oracle replays the identical
    arithmetic, so the hash checks the COMPRESSED state path
    end-to-end, approximation included."""
    stage = """u{k} AS (
      SELECT vec_id, vec FROM v
      WHERE vec_id IN (SELECT vec_id FROM a{prev}) OR vec_id % 3 = {k}
    ), p{k} AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM u{k} a JOIN u{k} b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vec, b.vec)
                  / (sqrt(list_dot_product(a.vec, a.vec))
                     * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {thr}
    ), rej{k} AS (
      SELECT DISTINCT d AS vec_id FROM (
        SELECT CASE
          WHEN id_a % 3 = {k} AND id_b % 3 = {k} THEN id_b
          WHEN id_a % 3 = {k} THEN id_a
          WHEN id_b % 3 = {k} THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT vec_id FROM a{prev}
      UNION ALL
      SELECT vec_id FROM v
      WHERE vec_id % 3 = {k}
        AND vec_id NOT IN (SELECT vec_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(k=k, prev="_empty" if k == 0 else k - 1, thr=threshold)
        for k in (0, 1, 2)
    )
    return f"""
    WITH v0 AS (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS vec
      FROM embeddings
    ), vs AS (
      SELECT vec_id, vec,
             list_max(list_transform(vec, x -> abs(x))) / 127.0 AS s
      FROM v0
    ), v AS (
      SELECT vec_id,
             CASE WHEN s > 0
                  THEN list_transform(vec, x -> round(x / s) * s)
                  ELSE list_transform(vec, x -> 0.0) END AS vec
      FROM vs
    ), a_empty AS (
      SELECT vec_id FROM v WHERE 1 = 0
    ), {stages}
    SELECT vec_id FROM a2
    """


@register(
    "pipeline_embedding_curation_int8",
    oracle=_greedy_embedding_curation_oracle_int8(),
)
def pipeline_embedding_curation_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pipeline_embedding_curation` on the round-8 COMPRESSED state
    tier (r7 verdict #2): the curator stores int8 codes + one double
    scale per vector (~4× smaller vec state — the dominant curator
    storage term at 100 TB), signs and verifies everything from the
    dequantized v̂, and the oracle replays the identical quantize →
    dequantize → cosine → greedy-fold arithmetic — so the hash gate
    covers the approximation boundary itself, not just the fold."""
    from .streaming.curator import StreamingCorpusCurator

    v = _clustered_embeddings(spark, sf_dir)
    with _scratch(spark, "embcur8_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="embedding",
            id_col="vec_id",
            emb_dim=64,
            threshold=0.9975,
            num_planes=4,
            num_tables=16,
            vec_format="int8",
        )
        _thirds(cur, v, "vec_id")
        return _held(cur.accepted(), "vec_id long")


# =====================================================================
# Clustering family (LLM-curation surface): distributed k-means and
# SemDeDup semantic dedup. Lloyd's is iterative, but deterministic
# first-K-by-id init + a fixed iteration count unrolls the whole fit
# into CTEs, so even the clustering queries carry full value-hash
# oracles. The CTE below mirrors operators/clustering.py
# constant-for-constant (K=8, one update step, dist rounded to 6,
# per-dimension means rounded to 9).
# =====================================================================


def _kmeans_cte(k: int = 8, dim: int = 64) -> str:
    """Unrolled one-update-step Lloyd's over the embeddings table:
    c0 = first-k-by-id init → a0 assignment → m1/c1 per-dimension
    means (empty clusters keep their previous centroid via the LEFT
    JOIN + coalesce, as the engine does) → a1 final assignment."""
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
             em AS cent
      FROM (SELECT vec_id, em FROM v ORDER BY vec_id LIMIT {k})
    ), a0 AS (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c0.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_distance(v.em, c0.cent), 6), c0.cluster) AS rn
        FROM v, c0) WHERE rn = 1
    ), m1 AS (
      SELECT a0.cluster, i.i AS pos, round(avg(v.em[i.i]), 9) AS m
      FROM a0 JOIN v USING (vec_id), range(1, {dim + 1}) i(i)
      GROUP BY a0.cluster, i.i
    ), c1 AS (
      SELECT c0.cluster, coalesce(u.cent, c0.cent) AS cent
      FROM c0 LEFT JOIN (
        SELECT cluster, list(m ORDER BY pos) AS cent FROM m1 GROUP BY cluster
      ) u USING (cluster)
    ), a1 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT v.vec_id, c1.cluster,
               round(list_distance(v.em, c1.cent), 6) AS dist,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_distance(v.em, c1.cent), 6), c1.cluster) AS rn
        FROM v, c1) WHERE rn = 1
    )
"""


@register(
    "cluster_kmeans_assign",
    oracle=_kmeans_cte() + "SELECT vec_id, cluster, dist FROM a1",
)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (K=8, one update step from the
    deterministic init), returning every vector's final cluster and
    rounded distance. The scale property is the plan shape: the
    argmin is a literal-centroid codegen projection with ZERO
    exchanges (plan-asserted in tests); the update's only shuffle is
    K·D wide after map-side combine; the driver holds just the K·D
    centroid matrix — Lloyd's at 100 TB is exactly this loop."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=8, iters=1)
    return clustering.kmeans_assign(emb, cents)


def _kcenter_oracle(k: int = 6) -> str:
    """Unrolled Gonzalez greedy k-center: p1 = min-id seed; each
    round keeps a running least() of rounded pairwise distances
    (identical to the engine's recomputed argmin — round is applied
    per pair on both sides) and picks ORDER BY dmin DESC, vec_id."""
    parts = [
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em"
        " FROM embeddings),",
        "p1 AS (SELECT vec_id, em FROM v ORDER BY vec_id LIMIT 1),",
        "d1 AS (SELECT v.vec_id, v.em,"
        " round(list_distance(v.em, p1.em), 6) AS dmin FROM v, p1)",
    ]
    for t in range(2, k + 1):
        parts.append(
            f", p{t} AS (SELECT vec_id, em, dmin FROM d{t-1}"
            " ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        if t < k:
            parts.append(
                f", d{t} AS (SELECT d.vec_id, d.em, least(d.dmin,"
                f" round(list_distance(d.em, p{t}.em), 6)) AS dmin"
                f" FROM d{t-1} d, p{t})"
            )
    sel = [
        "SELECT CAST(1 AS INT) AS seed_rank, vec_id,"
        " CAST(0.0 AS DOUBLE) AS dist FROM p1"
    ]
    for t in range(2, k + 1):
        sel.append(
            f"UNION ALL SELECT CAST({t} AS INT), vec_id,"
            f" CAST(dmin AS DOUBLE) FROM p{t}"
        )
    return "\n".join(parts) + "\n" + "\n".join(sel)


@register("cluster_kcenter_seeds", oracle=_kcenter_oracle(6))
def cluster_kcenter_seeds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center seed selection (Gonzalez 1985's
    2-approximation; round 10): six maximally-spread exemplars from
    the embedding table, each with its coverage radius at selection —
    the diverse-subset/probe-selection primitive k-means cannot give
    (centroids collapse onto dense modes; k-center provably covers
    the extremes). K-1 jobs, each a zero-shuffle literal-seed argmin
    projection feeding one single-row all-reduce; the driver holds
    only the K×D seed matrix. Oracle: the greedy loop unrolled into
    CTEs (the DoReMi/kmeans unroll pattern), every pick reproduced
    through the family float protocol round(dist, 6) + id tiebreak."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    return clustering.kcenter_seeds(emb, k=6)


@register(
    "dedup_semantic",
    oracle=_kmeans_cte()
    + """
    , e AS (
      SELECT a1.vec_id, a1.cluster, v.em,
             sqrt(list_dot_product(v.em, v.em)) AS nrm
      FROM a1 JOIN v USING (vec_id)
    ), dup AS (
      SELECT DISTINCT b.vec_id FROM e a JOIN e b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.em, b.em) / nullif(a.nrm * b.nrm, 0), 6) >= 0.4
    )
    SELECT e.vec_id, e.cluster, (d.vec_id IS NULL) AS keep
    FROM e LEFT JOIN dup d ON e.vec_id = d.vec_id
    """,
)
def dedup_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup removal —
    k-means partition of embedding space, pairwise cosine ONLY within
    a cluster, drop any doc with an earlier-id match ≥ 0.4. Candidate
    generation is quadratic only within a cluster; K scales with the
    corpus so clusters stay bounded — the embedding-space sibling of
    the MinHash-banded text path, and the missing piece between exact
    `dedup_embedding_cosine` (all-pairs ground truth) and
    `dedup_embedding_lsh` (hyperplane buckets): here the blocking
    structure is LEARNED from the data."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    return clustering.semantic_dedup(emb, k=8, iters=1, threshold=0.4)


@register(
    "cluster_representatives",
    oracle=_kmeans_cte()
    + """
    SELECT cluster, vec_id, dist, rn FROM (
      SELECT cluster, vec_id, dist,
             CAST(row_number() OVER (PARTITION BY cluster
                  ORDER BY dist, vec_id) AS INT) AS rn
      FROM a1
    ) WHERE rn <= 5
    """,
)
def cluster_representatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced representative sampling (coreset selection):
    the 5 vectors nearest their centroid in every k-means cluster —
    the "one exemplar per semantic region" primitive (diverse
    subsampling, prototype picking for labeling, SemDeDup's
    keep-the-centroid-nearest variant). Plan: zero-shuffle assignment,
    then ONE exchange on the cluster id for the per-cluster rank —
    at corpus scale each cluster's members co-locate once and only
    5·K rows survive."""
    from .operators import clustering

    emb = _t(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_fit(emb, k=8, iters=1)
    a = clustering.kmeans_assign(emb, cents)
    w = Window.partitionBy("cluster").orderBy("dist", "vec_id")
    return (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("cluster", "vec_id", "dist", "rn")
    )


@register(
    "knn_label_vote",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS true_label
      FROM embeddings WHERE vec_id < 50 AND list_dot_product(embedding, embedding) > 0
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label
      FROM embeddings WHERE vec_id >= 50 AND list_dot_product(embedding, embedding) > 0
    ), nn AS (
      SELECT query_id, neighbor_id, label FROM (
        SELECT q.query_id, c.neighbor_id, c.label,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) DESC,
                   c.neighbor_id) AS rn
        FROM q, c WHERE q.query_id <> c.neighbor_id) WHERE rn <= 5
    ), votes AS (
      SELECT query_id, label, count(*) AS votes FROM nn GROUP BY query_id, label
    )
    SELECT v.query_id, q.true_label, v.label AS pred_label, v.votes
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY votes DESC, label) AS vrn
      FROM votes) v
    JOIN q ON v.query_id = q.query_id
    WHERE v.vrn = 1
    """,
)
def knn_label_vote_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling: the 50 held-out query vectors take
    the majority label of their 5 nearest labeled corpus neighbors —
    the weak-labeling / quality-classifier primitive of a curation
    pipeline (label a seed set, vote labels onto the corpus by
    similarity). Exact top-k via the codegen fold kernel (broadcast
    query side); swap in IVF/LSH candidates at corpus scale; the vote
    itself is one narrow (query, label) aggregation."""
    from .operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_label_vote(
        corpus=emb.filter(F.col("vec_id") >= 50),
        queries=emb.filter(F.col("vec_id") < 50),
        k=5,
    )


@register(
    "export_shuffle_shards",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shards:42'), 1, 8))
                  AS BIGINT) AS h
      FROM documents
    )
    SELECT doc_id, h % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
                AS BIGINT) AS pos
    FROM s
    """,
)
def export_shuffle_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training export:
    every doc's (shard, position) derives from md5(key‖seed) — a
    reproducible random order with NO global sort and no rand()
    (retry-stable, engine-portable). The materialized form
    (`write_training_shards`) turns this into shard=<i> partition
    dirs sorted within files — the layout a data loader streams; the
    only exchange at any scale is the hash repartition on shard."""
    from .operators import curation

    d = _t(spark, sf_dir, "documents")
    return curation.shuffle_shards(d, key_col="doc_id", n_shards=8, seed="42")


@register(
    "text_bigram_perplexity",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS MATERIALIZED (
      SELECT unnest(t) AS w FROM toks
    ), uc AS MATERIALIZED (
      SELECT w, count(*) AS cw FROM uni GROUP BY w
    ), tot AS (
      SELECT sum(cw) AS n, count(*) AS v FROM uc
    ), bi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM bi GROUP BY l, r
    ), ctx AS (
      SELECT l, sum(cb) AS cl FROM bc GROUP BY l
    ), lp AS MATERIALIZED (
      SELECT bc.l, bc.r,
             round(ln((bc.cb + 1.0 * ((uc.cw + 1)
                                      / CAST(tot.n + tot.v AS DOUBLE)))
                      / (ctx.cl + 1.0)), 8) AS lp
      FROM bc JOIN ctx USING (l) JOIN uc ON uc.w = bc.r CROSS JOIN tot
    ), sc AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM bi JOIN lp USING (l, r) GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.t) AS n_tokens,
           coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.xent,
           round(exp(sc.xent), 6) AS ppl
    FROM toks t LEFT JOIN sc USING (doc_id)
    """,
)
def text_bigram_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (the CCNet quality filter shape,
    Wenzek et al. 2020, self-trained bigram analog): interpolated
    bigram model fit on the corpus itself, per-doc cross-entropy +
    perplexity. One tokenization scan; unigram table broadcast;
    bigram-type table deliberately NOT broadcast (billions of types
    on real corpora — the scoring join shuffles on the bigram key);
    context counts derive from the bigram aggregate, never a second
    corpus scan. logp rounded before the exact decimal sum; ppl
    exponentiates the ROUNDED xent so both engines see one double."""
    from .operators import textops

    return textops.bigram_logprob(_t(spark, sf_dir, "documents"))


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS MATERIALIZED (
      SELECT unnest(t) AS w FROM toks
    ), uc AS MATERIALIZED (
      SELECT w, count(*) AS cw FROM uni GROUP BY w
    ), tot AS (
      SELECT sum(cw) AS n FROM uc
    ), bi AS MATERIALIZED (
      SELECT t[i] AS l, t[i + 1] AS r
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM bi GROUP BY l, r
    ), nb AS (
      SELECT count(*) AS npairs FROM bi
    ), pmi AS (
      SELECT bc.l, bc.r, bc.cb,
             round(ln((bc.cb / CAST(nb.npairs AS DOUBLE))
                      / ((ul.cw / CAST(tot.n AS DOUBLE))
                         * (ur.cw / CAST(tot.n AS DOUBLE)))), 6) AS pmi
      FROM bc
      JOIN uc ul ON ul.w = bc.l
      JOIN uc ur ON ur.w = bc.r
      CROSS JOIN tot CROSS JOIN nb
      WHERE bc.cb >= 5
    )
    SELECT l, r, cb, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, l, r) AS INT) AS rn
    FROM pmi QUALIFY rn <= 20
    """,
)
def text_pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (Church & Hanks 1990): top-20 adjacent
    token pairs by pointwise mutual information log(p(l,r)/(p(l)p(r)))
    with a min-count floor of 5 (raw PMI promotes hapax pairs — the
    floor is the standard fix). The phrase-discovery pass a tokenizer/
    vocab pipeline runs before merging multiwords. Same single-
    tokenization-scan shape as the LM family: unigram and bigram
    count aggregates off one exchange, PMI is a projection over the
    bigram-type table (never broadcast), TakeOrdered final cut."""
    from .operators import textops

    return textops.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=20
    )


@register(
    "text_kn_perplexity",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), bi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM bi GROUP BY l, r
    ), ctx AS (
      SELECT l, sum(cb) AS cl, count(*) AS n1l FROM bc GROUP BY l
    ), rc AS (
      SELECT r, count(*) AS n1r FROM bc GROUP BY r
    ), nbt AS (
      SELECT count(*) AS nbt FROM bc
    ), lp AS MATERIALIZED (
      SELECT bc.l, bc.r,
             round(ln(greatest(bc.cb - 0.75, 0.0) / ctx.cl
                      + (0.75 * ctx.n1l / ctx.cl)
                        * (rc.n1r / CAST(nbt.nbt AS DOUBLE))), 8) AS lp
      FROM bc JOIN ctx USING (l) JOIN rc ON rc.r = bc.r CROSS JOIN nbt
    ), sc AS (
      SELECT doc_id, count(*) AS n_bigrams,
             round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM bi JOIN lp USING (l, r) GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.t) AS n_tokens,
           coalesce(sc.n_bigrams, 0) AS n_bigrams, sc.xent,
           round(exp(sc.xent), 6) AS ppl
    FROM toks t LEFT JOIN sc USING (doc_id)
    """,
)
def text_kn_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1999 — the smoothing KenLM uses, so this is the
    CCNet filter at KenLM fidelity): absolute discount D=0.75 plus a
    continuation-probability backoff N1+(·,w)/N1+(·,·) — distinct-
    context counts, not raw frequency, the correction that keeps
    frequent-but-one-context words out of the backoff mass. Same
    single-tokenization-scan plan as text_bigram_perplexity; c(v) and
    N1+(v,·) fold into one vocab-sized agg over the bigram-type
    table, N1+(·,w) is a second agg of the same table, N1+(·,·) a
    broadcast 1-row count. The bigram-type table is deliberately NOT
    broadcast (billions of types at corpus scale)."""
    from .operators import textops

    return textops.bigram_logprob(_t(spark, sf_dir, "documents"), smoothing="kn")


_KN3_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), tri AS MATERIALIZED (
      SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
      FROM toks, UNNEST(range(1, len(t) - 1)) AS x(i)
    ), tc AS MATERIALIZED (
      SELECT u, v, w, count(*) AS c3 FROM tri GROUP BY u, v, w
    ), cuv AS (
      SELECT u, v, sum(c3) AS cuv, count(*) AS n1uv FROM tc GROUP BY u, v
    ), cont2 AS MATERIALIZED (
      SELECT v, w, count(*) AS n1vw FROM tc GROUP BY v, w
    ), midv AS (
      SELECT v, sum(n1vw) AS n1v_, count(*) AS nv_ FROM cont2 GROUP BY v
    ), contw AS (
      SELECT w, count(*) AS n1w FROM cont2 GROUP BY w
    ), ntot AS (
      SELECT count(*) AS ntc FROM cont2
    ), lp AS MATERIALIZED (
      SELECT tc.u, tc.v, tc.w,
             round(ln(greatest(tc.c3 - 0.75, 0.0) / cuv.cuv
                      + (0.75 * cuv.n1uv / cuv.cuv)
                        * (greatest(cont2.n1vw - 0.75, 0.0) / midv.n1v_
                           + (0.75 * midv.nv_ / midv.n1v_)
                             * (contw.n1w / CAST(ntot.ntc AS DOUBLE)))),
                   8) AS lp
      FROM tc JOIN cuv USING (u, v) JOIN cont2 USING (v, w)
              JOIN midv USING (v) JOIN contw USING (w) CROSS JOIN ntot
    ), sc AS (
      SELECT doc_id, count(*) AS n_trigrams,
             round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM tri JOIN lp USING (u, v, w) GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.t) AS n_tokens,
           coalesce(sc.n_trigrams, 0) AS n_trigrams, sc.xent,
           round(exp(sc.xent), 6) AS ppl
    FROM toks t LEFT JOIN sc USING (doc_id)
    """


@register("text_kn3_perplexity", oracle=_KN3_ORACLE)
def text_kn3_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 interpolated Kneser-Ney perplexity (round 9 — the full
    KenLM recursion: trigram level discounts into a bigram-level
    CONTINUATION model, which discounts into the unigram continuation
    — distinct-context counts at BOTH backoff levels, all derived
    from one trigram-type aggregate). Per-context probabilities sum
    to 1 exactly (law tested against a pure-python model); scoring is
    in-corpus so every trigram is observed and the model stays
    closed-form. Same single-tokenization-scan shape as the bigram
    forms; the trigram-type table is the one corpus-scale shuffle
    (never broadcast — trigram types outnumber bigram types on real
    corpora)."""
    from .operators import textops

    return textops.trigram_logprob(_t(spark, sf_dir, "documents"))


@register("text_kn3_stored", oracle=_KN3_ORACLE)
def text_kn3_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-vs-in-corpus KN3 law under the driver's hash gate
    (round 10 — r9 verdict #5): fit the order-3 Kneser-Ney model,
    PERSIST it (``write_trigram_lm`` — one trigram-type table, every
    lower order derived from it at read), read it back and score the
    training corpus with the open-vocabulary stored scorer
    (``score_with_trigram_lm`` — coalesce-to-zero backoff at every
    level). On the training corpus every event is seen, so the result
    must hash-equal ``text_kn3_perplexity`` — the oracle IS that
    query's SQL. The OOV branches (unseen trigram/context/word) are
    pinned by property tests and exercised end-to-end by
    ``pipeline_perplexity_kn3``'s planted gibberish."""
    from .operators import textops

    docs = _t(spark, sf_dir, "documents")
    with _scratch(spark, "kn3_lm") as lmdir:
        tc, meta = textops.fit_trigram_lm(docs)
        textops.write_trigram_lm(lmdir, tc, meta)
        tc2, meta2 = textops.read_trigram_lm(spark, lmdir)
        return _held(
            textops.score_with_trigram_lm(docs, tc2, meta2),
            "doc_id long, n_tokens bigint, n_trigrams bigint, "
            "xent double, ppl double",
        )


def _sql_zinterleave(a: str, b: str, bits: int) -> str:
    """DuckDB expression for the 2-D Morton interleave of ``a``/``b``
    (low ``bits`` each) — the unrolled twin of layout.z_value_2d, so
    the layout decision is engine-portable and hash-checkable."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


@register(
    "layout_zorder_slices",
    oracle=f"""
    WITH pts AS (
      SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b FROM lineitem
    ), z AS (
      SELECT a, b, ({_sql_zinterleave("a", "b", 8)}) >> 12 AS slice FROM pts
    )
    SELECT slice, count(*) AS n_rows,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b
    FROM z GROUP BY slice
    """,
)
def layout_zorder_slices_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit — the engine's OPTIMIZE ...
    ZORDER BY decision made queryable: bucket lineitem's
    (l_partkey%256, l_suppkey%256) points by the top 4 bits of their
    interleaved z-code (equal-width z ranges — a pure codegen
    projection, NO global sort; the only exchange is the 16-group
    aggregation) and report each slice's per-dimension min/max
    envelope. The result exhibits the property file-skipping buys:
    every slice confines BOTH dimensions to a quarter of their domain
    (single-column range clustering leaves the other column spanning
    its full range in every file — test_layout pins the contrast).
    At 100 TB this projection tags every row with its target file
    before a repartitionByRange write; the audit agg is this query."""
    from .operators import layout

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("a"), (F.col("l_suppkey") % 256).alias("b")
    )
    return layout.zorder_slice_stats(li, "a", "b", bits=8, slice_bits=4)


@register(
    "sim_hybrid_rrf_topk",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), a AS (
      SELECT avg(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('hash', 'join', 'merge') GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), per_doc AS (
      SELECT tf.doc_id,
             CAST(sum(CAST(round(
               ln(1.0 + (CAST(n.n_docs AS DOUBLE) - dfq.df + 0.5)
                        / (CAST(dfq.df AS DOUBLE) + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / a.avgdl))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS bm25_micro
      FROM tf JOIN dfq USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN n CROSS JOIN a
      GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC)
                    AS INT) AS rnk
        FROM per_doc
      ) WHERE rnk <= 20
    ), q0 AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings
      WHERE vec_id = 0 AND list_dot_product(embedding, embedding) > 0
    ), cvs AS (
      SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE list_dot_product(embedding, embedding) > 0
    ), den AS (
      SELECT doc_id, rnk FROM (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT) AS rnk
        FROM (
          SELECT doc_id,
                 round(list_dot_product(qv, cv)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(cv, cv))), 6) AS sim
          FROM q0, cvs WHERE doc_id <> 0
        )
      ) WHERE rnk <= 20
    ), uni AS (
      SELECT doc_id, round(1.0 / (60 + rnk), 9) AS contrib FROM lex
      UNION ALL
      SELECT doc_id, round(1.0 / (60 + rnk), 9) AS contrib FROM den
    ), fused AS (
      SELECT doc_id, round({sql_dsum("contrib")}, 6) AS rrf_score,
             count(*) AS n_lists
      FROM uni GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_lists,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
             AS rnk
    FROM fused QUALIFY rnk <= 10
    """,
)
def sim_hybrid_rrf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009 — the standard lexical+dense combiner in a RAG stack): fuse
    the BM25 top-20 for the probe query 'hash join merge' with the
    dense cosine top-20 around probe vector 0 (the fixture aligns
    vec_id with doc_id), rrf = Σ 1/(60+rank). Both candidate lists
    are top-k-cut BEFORE fusion, so the fuse stage aggregates ≤40
    rows at any corpus scale; contributions are rounded then summed
    under the exact decimal protocol and the final cut is
    TakeOrdered."""
    from .operators import similarity, textops

    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = textops.bm25_topk(d, ["hash", "join", "merge"], k=20)
    den = similarity.jvm_cosine_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") == 0), k=20, round_to=6
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rn").alias("rnk"))
    return similarity.rrf_fuse(
        [(lex, "doc_id", "rnk"), (den, "doc_id", "rnk")], k_const=60, k=10
    )


def _bpe_oracle(num_merges: int) -> str:
    """Unrolled-CTE DuckDB twin of ``tokenizer.bpe_learn_merges`` —
    the ``cluster_kmeans_assign`` / ``quality_classifier_scores``
    protocol for hash-checking an iterative fit: every merge iteration
    is one CTE block that (a) counts adjacent symbol pairs over the
    word-type table, (b) picks the winner by (count DESC, lhs, rhs),
    and (c) replays the greedy leftmost non-overlapping rewrite
    RELATIONALLY — match positions, gaps-and-islands parity within
    runs of consecutive matches (the x == y overlap case), rebuild via
    ordered list(). Early stop (best count < 2) falls out naturally:
    an empty top{k} empties s{k+1} and every later block."""
    blocks = [
        f"""w AS MATERIALIZED (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents) GROUP BY word
    ), s1 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM w
    )"""
    ]
    for k in range(1, num_merges + 1):
        blocks.append(f"""p{k} AS MATERIALIZED (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS c
      FROM s{k}, UNNEST(range(1, len(syms))) AS t(i) GROUP BY 1, 2
    ), top{k} AS MATERIALIZED (
      SELECT lhs, rhs, c FROM p{k} WHERE c >= 2
      ORDER BY c DESC, lhs, rhs LIMIT 1
    ), pos{k} AS MATERIALIZED (
      SELECT word, cnt, unnest(syms) AS sym,
             unnest(range(1, len(syms) + 1)) AS pos
      FROM s{k}
    ), m{k} AS MATERIALIZED (
      SELECT p.word, p.pos
      FROM pos{k} p JOIN pos{k} q ON q.word = p.word AND q.pos = p.pos + 1
      CROSS JOIN top{k} t WHERE p.sym = t.lhs AND q.sym = t.rhs
    ), g{k} AS MATERIALIZED (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS isl
      FROM m{k}
    ), keep{k} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               (pos - min(pos) OVER (PARTITION BY word, isl)) % 2 AS off
        FROM g{k}
      ) WHERE off = 0
    ), s{k + 1} AS MATERIALIZED (
      SELECT p.word, any_value(p.cnt) AS cnt,
             list(CASE WHEN kp.pos IS NOT NULL THEN t.lhs || t.rhs
                       ELSE p.sym END ORDER BY p.pos) AS syms
      FROM pos{k} p CROSS JOIN top{k} t
      LEFT JOIN keep{k} kp ON kp.word = p.word AND kp.pos = p.pos
      WHERE NOT EXISTS (SELECT 1 FROM keep{k} k2
                        WHERE k2.word = p.word AND k2.pos = p.pos - 1)
      GROUP BY p.word
    )""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS INT) AS rnk, lhs, rhs, lhs || rhs AS merged,"
        f" CAST(c AS BIGINT) AS pair_count FROM top{k}"
        for k in range(1, num_merges + 1)
    )
    return "WITH " + ",\n    ".join(blocks) + "\n    " + union


def _wordpiece_oracle(num_merges: int) -> str:
    """Unrolled-CTE twin of ``tokenizer.wordpiece_learn_merges`` —
    the ``_bpe_oracle`` blocks with the winner chosen by the WordPiece
    likelihood score c / (count(lhs)·count(rhs)): one extra
    vocabulary-sized symbol-count CTE per iteration, two joins, one
    IEEE double division of exact integer inputs (byte-deterministic
    cross-engine, no rounding protocol), ties by (lhs, rhs)."""
    blocks = [
        f"""w AS MATERIALIZED (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS word FROM documents) GROUP BY word
    ), s1 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS syms
      FROM w
    )"""
    ]
    for k in range(1, num_merges + 1):
        blocks.append(f"""p{k} AS MATERIALIZED (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS c
      FROM s{k}, UNNEST(range(1, len(syms))) AS t(i) GROUP BY 1, 2
    ), u{k} AS MATERIALIZED (
      SELECT sym, sum(cnt) AS cu
      FROM (SELECT cnt, unnest(syms) AS sym FROM s{k}) GROUP BY sym
    ), top{k} AS MATERIALIZED (
      SELECT lhs, rhs, c,
             CAST(c AS DOUBLE) / (CAST(ul.cu AS DOUBLE) * CAST(ur.cu AS DOUBLE)) AS score
      FROM p{k}
      JOIN u{k} ul ON ul.sym = p{k}.lhs
      JOIN u{k} ur ON ur.sym = p{k}.rhs
      WHERE c >= 2
      ORDER BY score DESC, lhs, rhs LIMIT 1
    ), pos{k} AS MATERIALIZED (
      SELECT word, cnt, unnest(syms) AS sym,
             unnest(range(1, len(syms) + 1)) AS pos
      FROM s{k}
    ), m{k} AS MATERIALIZED (
      SELECT p.word, p.pos
      FROM pos{k} p JOIN pos{k} q ON q.word = p.word AND q.pos = p.pos + 1
      CROSS JOIN top{k} t WHERE p.sym = t.lhs AND q.sym = t.rhs
    ), g{k} AS MATERIALIZED (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS isl
      FROM m{k}
    ), keep{k} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               (pos - min(pos) OVER (PARTITION BY word, isl)) % 2 AS off
        FROM g{k}
      ) WHERE off = 0
    ), s{k + 1} AS MATERIALIZED (
      SELECT p.word, any_value(p.cnt) AS cnt,
             list(CASE WHEN kp.pos IS NOT NULL THEN t.lhs || t.rhs
                       ELSE p.sym END ORDER BY p.pos) AS syms
      FROM pos{k} p CROSS JOIN top{k} t
      LEFT JOIN keep{k} kp ON kp.word = p.word AND kp.pos = p.pos
      WHERE NOT EXISTS (SELECT 1 FROM keep{k} k2
                        WHERE k2.word = p.word AND k2.pos = p.pos - 1)
      GROUP BY p.word
    )""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS INT) AS rnk, lhs, rhs, lhs || rhs AS merged,"
        f" CAST(c AS BIGINT) AS pair_count, score FROM top{k}"
        for k in range(1, num_merges + 1)
    )
    return "WITH " + ",\n    ".join(blocks) + "\n    " + union


@register("text_wordpiece_merges", oracle=_wordpiece_oracle(10))
def text_wordpiece_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece training (Schuster & Nakajima 2012 — the
    BERT vocabulary; round 8): the BPE machinery with the merge winner
    chosen by LIKELIHOOD, count(pair)/(count(lhs)·count(rhs)), so the
    two real-world subword trainers (GPT-2's BPE, BERT's WordPiece)
    now share one distributed core — one corpus-scale word count, K
    iterations over word types, driver holding one model row per
    iteration. The score is a single IEEE division of exact integer
    counts, identical in both engines, so the 10-iteration fit is
    hash-checked end-to-end like ``text_bpe_merges`` — and learns a
    genuinely different table (pinned in test_tokenizer.py)."""
    from .operators import tokenizer

    _prep(spark)
    return tokenizer.wordpiece_learn_merges(
        _t(spark, sf_dir, "documents"), num_merges=10
    )


UNIGRAM_PIECES_GOLDEN = os.path.join(_FIXDIR, "unigram_pieces_golden.parquet")
UNIGRAM_ENCODE_GOLDEN = os.path.join(_FIXDIR, "unigram_encode_golden.parquet")


@register(
    "text_unigram_pieces",
    oracle=(
        "SELECT piece, logprob FROM "
        f"read_parquet('{UNIGRAM_PIECES_GOLDEN}')"
    ),
)
def text_unigram_pieces_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    ``unigram`` model; round 9 completes the subword-trainer trio
    next to BPE and WordPiece): substring-seeded piece vocabulary,
    hard-EM (Viterbi-count) iterations over word TYPES, alphabet
    floor, and (round 10) the paper's §3.2 PRUNING SCHEDULE — seed at
    150 pieces, shrink by likelihood loss each round to land exactly
    on vocab_size=60 (loss(x) = c(x)·(log p(x) − alt(x)); alphabet
    never prunes; monotone shrink pinned in test_tokenizer.py). Same
    scale contract as the other trainers — one corpus-scale word
    count, type-table EM, the driver holds only the seed_size-bounded
    piece table. The EM DP is order-dependent per word (argmax over
    segmentations), so the oracle is the fold-family committed-golden
    protocol: an independent pure-python implementation
    (scripts/gen_unigram_golden.py) computed from the sf0.01 fixture
    — the driver's correctness SF; the generator↔golden↔engine
    equalities are pinned in test_tokenizer.py."""
    from .operators import tokenizer

    _prep(spark)
    return tokenizer.unigram_learn_pieces(
        _t(spark, sf_dir, "documents"), seed_size=150
    )


@register(
    "text_unigram_encode",
    oracle=(
        "SELECT doc_id, n_pieces, encoded FROM "
        f"read_parquet('{UNIGRAM_ENCODE_GOLDEN}')"
    ),
)
def text_unigram_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned unigram piece table:
    Viterbi segmentation once per word TYPE (the train/encode shape of
    ``apply_bpe``), positional join rebuilds each document's piece
    stream. Golden oracle (sf0.01, see ``text_unigram_pieces``); the
    train/encode pair gives the unigram trainer the same two-path
    check BPE has."""
    from .operators import tokenizer

    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    return tokenizer.unigram_encode(
        d, tokenizer.unigram_learn_pieces(d, seed_size=150)
    )


UNIGRAM_ENCODE_BYTES_GOLDEN = os.path.join(
    _FIXDIR, "unigram_encode_bytes_golden.parquet"
)


@register(
    "text_unigram_encode_bytes",
    oracle=(
        "SELECT doc_id, n_pieces, encoded FROM "
        f"read_parquet('{UNIGRAM_ENCODE_BYTES_GOLDEN}')"
    ),
)
def text_unigram_encode_bytes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram encoding under the BYTE-FALLBACK contract (round 11 —
    the SentencePiece ``byte_fallback`` rule that completes
    Kudo-fidelity): the fit appends the 256 reserved ``<0xNN>`` byte
    pieces at the fixed ``BYTE_PIECE_LP`` score (the learned rows are
    bit-identical to the plain fit — training never sees byte
    tokens), and the encoder — detecting the contract from the table
    itself — segments characters OUTSIDE the model alphabet into
    their UTF-8 byte pieces instead of emitting an unsplit unknown.
    Every fourth document is planted with ``' né€on ße'`` (é/ß
    2-byte, € 3-byte UTF-8 — the multi-byte decomposition must
    fire), and the zero-unknown law holds over the whole planted
    corpus (pinned in test_tokenizer.py). Golden oracle regenerated
    from the extended pure-python reference
    (scripts/gen_unigram_golden.py), the fold-family protocol."""
    from .operators import tokenizer

    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    pieces = tokenizer.unigram_learn_pieces(
        d, seed_size=150, byte_fallback=True
    )
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" né€on ße"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return tokenizer.unigram_encode(planted, pieces)


def _bpe_encode_oracle(num_merges: int) -> str:
    """Encode twin: BPE training rewrites EVERY word type, so encoding
    the training corpus is a lookup of each word's final symbol
    sequence — the oracle reuses the training CTE chain and joins
    documents' positional tokens against s{K+1}, flattening in
    order."""
    train = _bpe_oracle(num_merges)
    # strip the trailing merge-table UNION: keep everything up to the
    # final s{K+1} block, then select the encode join instead
    cut = train.rindex("SELECT CAST(1 AS INT) AS rnk")
    return (
        train[:cut].rstrip()
        + f""", dpos AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS word,
             unnest(range(1, len({_TOKS}) + 1)) AS pos
      FROM documents
    )
    SELECT d.doc_id,
           CAST(coalesce(sum(len(s.syms)), 0) AS BIGINT) AS n_subwords,
           coalesce(array_to_string(flatten(list(s.syms ORDER BY d.pos)), ' '),
                    '') AS subword_text
    FROM dpos d LEFT JOIN s{num_merges + 1} s USING (word)
    GROUP BY d.doc_id"""
    )


@register("text_bpe_merges", oracle=_bpe_oracle(10))
def text_bpe_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016 — the
    GPT-2 vocabulary recipe): learn the first 10 merges from the
    corpus. The corpus is scanned EXACTLY ONCE (the word-frequency
    aggregation); every merge iteration runs over word TYPES weighted
    by count — a vocabulary-sized table — and the driver holds one
    (pair, count) row per iteration, i.e. the learned model itself.
    The rewrite step is a literal-pair Catalyst aggregate fold (no
    shuffle, no Python); ties break by (lhs, rhs) so the merge table
    is engine- and partitioning-reproducible. The oracle replays all
    10 iterations as unrolled CTEs including the greedy
    leftmost-non-overlap islands logic."""
    from .operators import tokenizer

    return tokenizer.bpe_learn_merges(
        _t(spark, sf_dir, "documents"), num_merges=10
    )


@register("text_bpe_encode", oracle=_bpe_encode_oracle(10))
def text_bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE step under the hash gate: learn 10 merges (same fit
    as ``text_bpe_merges``), then tokenize every document with the
    learned table via ``apply_bpe`` — a pure literal-merge fold
    projection riding inside the corpus scan (zero shuffles, zero
    Python; plan-asserted in test_tokenizer.py). The oracle exploits
    the train/encode consistency law: training rewrites every word
    TYPE, so encoding the training corpus is a positional join of doc
    tokens against the final type table s11 of the SAME unrolled CTE
    chain — two independent encode paths (fold vs lookup), one hash."""
    from .operators import tokenizer

    d = _t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in tokenizer.bpe_learn_merges(d, num_merges=10).collect()
    ]
    enc = tokenizer.apply_bpe(d, merges)
    # scalar output contract (test_all_queries_run_with_scalar_schemas):
    # array columns hash differently across Arrow/non-Arrow toPandas
    # paths in the driver's plain-session compare — join to a string
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").cast("bigint").alias("n_subwords"),
        F.concat_ws(" ", "bpe_tokens").alias("subword_text"),
    )


def _pq_train_blocks(
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    fit_src: str = "v",
    enc_src: str | None = None,
) -> list[str]:
    """The shared PQ fit+encode CTE blocks (assume a prior ``v`` CTE):
    per subspace the ``_kmeans_cte`` chain — first-k-by-id init → one
    Lloyd update with empty-cluster carry → final assignment code{j}.
    ``fit_src``/``enc_src`` (round 9) split the training corpus from
    the encoded corpus (the FAISS train-on-a-sample story — the
    curator fits its codebooks on the FIRST batch and encodes
    everything); defaults keep the original fit==encode form."""
    d = dim // m
    enc = enc_src or fit_src
    blocks = []
    for j in range(m):
        lo = j * d + 1
        hi = j * d + d
        fit_tbl = f"s{j}"
        if enc != fit_src:
            fit_tbl = f"sf{j}"
            blocks.append(f"""sf{j} AS MATERIALIZED (
      SELECT vec_id, em[{lo}:{hi}] AS sv FROM {fit_src}
    )""")
        blocks.append(f"""s{j} AS MATERIALIZED (
      SELECT vec_id, em[{lo}:{hi}] AS sv FROM {enc}
    ), c{j}0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
             sv AS cent
      FROM (SELECT vec_id, sv FROM {fit_tbl} ORDER BY vec_id LIMIT {ksub})
    ), a{j}0 AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT s.vec_id, c.cluster,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY round(list_distance(s.sv, c.cent), 6), c.cluster) AS rn
        FROM {fit_tbl} s, c{j}0 c) WHERE rn = 1
    ), m{j}1 AS (
      SELECT a.cluster, i.i AS pos, round(avg(s.sv[i.i]), 9) AS mm
      FROM a{j}0 a JOIN {fit_tbl} s USING (vec_id), range(1, {d + 1}) i(i)
      GROUP BY a.cluster, i.i
    ), c{j}1 AS MATERIALIZED (
      SELECT c.cluster, coalesce(u.cent, c.cent) AS cent
      FROM c{j}0 c LEFT JOIN (
        SELECT cluster, list(mm ORDER BY pos) AS cent FROM m{j}1 GROUP BY cluster
      ) u USING (cluster)
    ), code{j} AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT s.vec_id, c.cluster,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY round(list_distance(s.sv, c.cent), 6), c.cluster) AS rn
        FROM s{j} s, c{j}1 c) WHERE rn = 1
    )""")
    return blocks


def _pq_code_joins(m: int) -> str:
    joins = "code0 cd0 JOIN c01 cc0 ON cd0.cluster = cc0.cluster"
    for j in range(1, m):
        joins += (
            f"\n      JOIN code{j} cd{j} ON cd{j}.vec_id = cd0.vec_id"
            f"\n      JOIN c{j}1 cc{j} ON cd{j}.cluster = cc{j}.cluster"
        )
    return joins


def _greedy_embedding_curation_oracle_pq(
    threshold: float = 0.9996, m: int = 8, dim: int = 64, ksub: int = 16
) -> str:
    """The PQ-state variant of the unrolled embedding-curation fold
    (round 9 — the third vec-state rung): the curator fits per-subspace
    codebooks on its FIRST micro-batch (the FAISS train-on-a-sample
    story, iters=1, deterministic first-k-by-id init), encodes every
    vector to m codes, and screens/signs/stores everything from the
    DECODED reconstruction v̂. The oracle replays fit (over batch 0) →
    encode (over all) → decode → cosine → greedy fold; the threshold
    sits where decisions on the clustered fixture are data-dependent
    under PQ reconstruction error (measured: 12 pairs ≥ 0.9996, the
    0.9975 int8 threshold collapses almost all within-cluster pairs
    onto one code tuple and accepts ~8 of 500)."""
    stage = """u{k} AS (
      SELECT vec_id, vec FROM v
      WHERE vec_id IN (SELECT vec_id FROM a{prev}) OR vec_id % 3 = {k}
    ), p{k} AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM u{k} a JOIN u{k} b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.vec, b.vec)
                  / (sqrt(list_dot_product(a.vec, a.vec))
                     * sqrt(list_dot_product(b.vec, b.vec))), 6) >= {thr}
    ), rej{k} AS (
      SELECT DISTINCT d AS vec_id FROM (
        SELECT CASE
          WHEN id_a % 3 = {k} AND id_b % 3 = {k} THEN id_b
          WHEN id_a % 3 = {k} THEN id_a
          WHEN id_b % 3 = {k} THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT vec_id FROM a{prev}
      UNION ALL
      SELECT vec_id FROM v
      WHERE vec_id % 3 = {k}
        AND vec_id NOT IN (SELECT vec_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(k=k, prev="_empty" if k == 0 else k - 1, thr=threshold)
        for k in (0, 1, 2)
    )
    concat = " || ".join(f"cc{j}.cent" for j in range(m))
    blocks = [
        """v0 AS MATERIALIZED (
      SELECT vec_id,
             [ (CASE WHEN i = (vec_id % 8) * 8 + 1 THEN 1.0 ELSE 0.0 END)
               + 0.05 * CAST(embedding[i] AS DOUBLE)
               FOR i IN generate_series(1, 64) ] AS em
      FROM embeddings
    )""",
        """vfit AS MATERIALIZED (
      SELECT vec_id, em FROM v0 WHERE vec_id % 3 = 0
    )""",
    ]
    blocks += _pq_train_blocks(m, dim, ksub, fit_src="vfit", enc_src="v0")
    blocks.append(f"""v AS MATERIALIZED (
      SELECT cd0.vec_id, {concat} AS vec
      FROM {_pq_code_joins(m)}
    ), a_empty AS (
      SELECT vec_id FROM v WHERE 1 = 0
    )""")
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""",
    {stages}
    SELECT vec_id FROM a2
    """
    )


@register(
    "pipeline_embedding_curation_pq",
    oracle=_greedy_embedding_curation_oracle_pq(),
)
def pipeline_embedding_curation_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pipeline_embedding_curation` on the round-9 PQ state tier —
    the deepest rung of the curator's vec-state compression ladder
    (float64 → int8 ~6× → PQ codes, m=8 small ints per 64-dim vector):
    codebooks are fit ONCE on the first micro-batch and frozen into
    ``pq_books.json`` (pq_m/pq_ksub freeze in geometry.json like the
    LSH geometry), every vector is stored as its 8 codes, and
    signatures + cosine verify + replay all derive from the DECODED
    v̂ — the single-approximation-boundary discipline of the int8
    tier at 4× less state again. The oracle replays fit → encode →
    decode → cosine → greedy fold exactly, so the hash covers the PQ
    approximation itself. Reference anchor: the compacted-topic
    keep-one-per-key retention (pulsar.go:160-167) with the stored
    value PQ-compressed."""
    from .streaming.curator import StreamingCorpusCurator

    v = _clustered_embeddings(spark, sf_dir)
    with _scratch(spark, "embcurpq_q") as base:
        cur = StreamingCorpusCurator(
            spark,
            base,
            screen="embedding",
            id_col="vec_id",
            emb_dim=64,
            threshold=0.9996,
            num_planes=4,
            num_tables=16,
            vec_format="pq",
        )
        _thirds(cur, v, "vec_id")
        return _held(cur.accepted(), "vec_id long")



def _pq_adc_sql(m: int, dim: int, qref: str = "q.qv") -> str:
    d = dim // m
    terms = []
    for j in range(m):
        lo = j * d + 1
        sq = " + ".join(
            f"(({qref}[{lo + i}] - cc{j}.cent[{i + 1}]) * ({qref}[{lo + i}] - cc{j}.cent[{i + 1}]))"
            for i in range(d)
        )
        terms.append(f"round({sq}, 6)")
    return "round(" + " + ".join(terms) + ", 6)"


def _pq_oracle(
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    n_queries: int = 5,
    k: int = 10,
    v_blocks: list[str] | None = None,
) -> str:
    """Unrolled-CTE twin of pq_fit + pq_encode + pq_adc_topk: per
    subspace, the ``_kmeans_cte`` chain (first-k-by-id init → one
    Lloyd update with empty-cluster carry → final assignment = the
    PQ code); then ADC = per-subspace squared distances between the
    query slice and the CODED centroid, each rounded then summed in
    fixed order. Approximate index, exact hash — the approximation is
    quantization, not nondeterminism. ``v_blocks`` (round 10)
    substitutes the corpus CTE chain — it must end in a CTE named
    ``v`` with (vec_id, em DOUBLE[]) — so pre-rotated variants (OPQ)
    reuse the whole fit/encode/ADC unroll."""
    blocks = list(v_blocks) if v_blocks else ["""v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings
    )"""]
    blocks += _pq_train_blocks(m, dim, ksub)
    blocks.append(f"""q AS MATERIALIZED (
      SELECT vec_id AS query_id, em AS qv FROM v WHERE vec_id < {n_queries}
    )""")
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""", scored AS (
      SELECT q.query_id, cd0.vec_id AS neighbor_id,
             {_pq_adc_sql(m, dim)} AS adc_dist
      FROM {_pq_code_joins(m)}
      CROSS JOIN q
      WHERE cd0.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, adc_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}"""
    )


def _ivf_pq_oracle(
    m: int = 8, dim: int = 64, ksub: int = 16, n_cells: int = 8,
    nprobe: int = 2, n_queries: int = 5, k: int = 10,
    v_blocks: list[str] | None = None,
) -> str:
    """The FAISS-style composed index, fully unrolled: coarse
    deterministic k-means over the FULL vectors (g-prefixed
    ``_kmeans_cte`` chain) partitions the corpus into cells; each
    query probes its nprobe nearest cells; the PQ chain's codes are
    ADC-scored ONLY for vectors in probed cells. ``v_blocks``
    substitutes the corpus CTE chain (must end in ``v(vec_id, em)``)
    so the rotated OPQ variant reuses the whole unroll."""
    blocks = list(v_blocks) if v_blocks else ["""v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings
    )"""]
    blocks += [f"""gc0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
             em AS cent
      FROM (SELECT vec_id, em FROM v ORDER BY vec_id LIMIT {n_cells})
    ), ga0 AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_distance(v.em, c.cent), 6), c.cluster) AS rn
        FROM v, gc0 c) WHERE rn = 1
    ), gm1 AS (
      SELECT a.cluster, i.i AS pos, round(avg(v.em[i.i]), 9) AS mm
      FROM ga0 a JOIN v USING (vec_id), range(1, {dim + 1}) i(i)
      GROUP BY a.cluster, i.i
    ), gc1 AS MATERIALIZED (
      SELECT c.cluster, coalesce(u.cent, c.cent) AS cent
      FROM gc0 c LEFT JOIN (
        SELECT cluster, list(mm ORDER BY pos) AS cent FROM gm1 GROUP BY cluster
      ) u USING (cluster)
    ), ga1 AS MATERIALIZED (
      SELECT vec_id, cluster FROM (
        SELECT v.vec_id, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_distance(v.em, c.cent), 6), c.cluster) AS rn
        FROM v, gc1 c) WHERE rn = 1
    )"""]
    blocks += _pq_train_blocks(m, dim, ksub)
    blocks.append(f"""qs AS MATERIALIZED (
      SELECT vec_id AS query_id, em AS qv FROM v WHERE vec_id < {n_queries}
    ), pc AS MATERIALIZED (
      SELECT query_id, qv, cell FROM (
        SELECT q.query_id, q.qv, c.cluster AS cell,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_distance(q.qv, c.cent), 6), c.cluster) AS pr
        FROM qs q, gc1 c) WHERE pr <= {nprobe}
    ), cand AS MATERIALIZED (
      SELECT p.query_id, p.qv, a.vec_id AS neighbor_id
      FROM pc p JOIN ga1 a ON a.cluster = p.cell
      WHERE a.vec_id <> p.query_id
    )""")
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""", scored AS (
      SELECT n.query_id, cd0.vec_id AS neighbor_id,
             {_pq_adc_sql(m, dim, qref="n.qv")} AS adc_dist
      FROM {_pq_code_joins(m)}
      JOIN cand n ON n.neighbor_id = cd0.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_dist ASC, neighbor_id) AS INT) AS rn
      FROM scored
    ) WHERE rn <= {k}"""
    )


@register(
    "sim_ivf_pq_topk",
    oracle=_ivf_pq_oracle(m=8, dim=64, ksub=16, n_cells=8, nprobe=2, n_queries=5, k=10),
)
def sim_ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS-style composed index, value-hash-exact end
    to end: a deterministic coarse k-means quantizer (8 cells, the
    ``cluster_kmeans_assign`` fit) partitions the corpus; each query
    probes its 2 nearest cells; ONLY the probed cells' 8-byte PQ
    codes are ADC-scored. Cell pruning bounds WHAT is scanned
    (nprobe/n_cells of the corpus via partition pruning at scale),
    PQ bounds the BYTES per scanned row (32×) — the two levers of
    billion-scale ANN, composed, still carrying an exact oracle
    hash because every stage is rounded deterministic arithmetic."""
    from .operators import pq

    # NOTE (round 13): the §2.5 input spread was measured HERE and
    # reverted — this entry is ~8 small sequential fit jobs, and the
    # spread multiplies every one of them to 32 tasks for kernels that
    # finish in milliseconds (2.4 s vs 1.9 s same-window A/B).
    emb = _t(spark, sf_dir, "embeddings")
    return pq.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        n_cells=8, nprobe=2, m=8, k_sub=16, k=10,
    )


@register(
    "sim_ivf_pq_stored",
    oracle=_ivf_pq_oracle(m=8, dim=64, ksub=16, n_cells=8, nprobe=2, n_queries=5, k=10),
)
def sim_ivf_pq_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_ivf_pq_topk` through the MATERIALIZED index lifecycle
    (round 8 — r7 verdict #3): `pq_write_index` commits codes +
    coarse centroids + codebooks + meta as one versioned dir behind
    an atomic `current` pointer, and `pq_query_index` probes only the
    queried cells' code partitions. Same fits, same ADC arithmetic —
    so the STORED probe hash-matches the in-memory query's oracle,
    proving the index round-trips losslessly. The append / versioned-
    rebalance laws (FAISS `add` under frozen quantizers; codebook-
    version cutover with late-append carry-over) are pinned in
    test_pq.py."""
    from .operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    with _scratch(spark, "pqidx_q") as base:
        pq.pq_write_index(spark, base, emb, n_cells=8, m=8, k_sub=16)
        out = pq.pq_query_index(
            spark, base, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2
        )
        return _held(out, "query_id long, neighbor_id long, adc_dist double, rn int")


def _pq_rerank_oracle(
    m: int = 8, dim: int = 64, ksub: int = 16, n_queries: int = 5,
    k: int = 10, shortlist: int = 50,
) -> str:
    """Rerank twin: the full PQ chain at k=shortlist becomes a nested
    candidate CTE; only shortlisted ids join back to the float
    vectors for the exact list_distance re-rank (the same sequential
    fold the Spark side uses)."""
    return f"""
    WITH cand AS MATERIALIZED (
      {_pq_oracle(m=m, dim=dim, ksub=ksub, n_queries=n_queries, k=shortlist)}
    ), v2 AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS em FROM embeddings
    ), rer AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_distance(qv.em, nv.em), 6) AS dist
      FROM cand c
      JOIN v2 qv ON qv.vec_id = c.query_id
      JOIN v2 nv ON nv.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, dist, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY dist ASC, neighbor_id) AS INT) AS rn
      FROM rer
    ) WHERE rn <= {k}"""


@register(
    "sim_pq_rerank_topk",
    oracle=_pq_rerank_oracle(m=8, dim=64, ksub=16, n_queries=5, k=10, shortlist=50),
)
def sim_pq_rerank_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pattern (Jégou et al. 2011 §IV): ADC
    shortlist of 50 over the codes, exact re-rank of ONLY the
    shortlisted float vectors (at 100 TB the float corpus is touched
    for shortlist·queries rows, never scanned). Recall@10 vs exact
    ≈0.7 on this fixture vs ≈0.35 for raw ADC — the two-stage shape
    is where PQ earns its 32× memory cut; still value-hash-exact."""
    from .operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    books = pq.pq_fit(emb, m=8, k_sub=16, iters=1)
    codes = pq.pq_encode(emb, books)
    return pq.pq_rerank_topk(
        codes, books, emb.filter(F.col("vec_id") < 5), emb, k=10, shortlist=50
    )


@register("sim_pq_adc_topk", oracle=_pq_oracle(m=8, dim=64, ksub=16, n_queries=5, k=10))
def sim_pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 8 subspaces × 16
    centroids learned with the deterministic distributed Lloyd's, the
    corpus stored as 8 codes/vector (32× smaller than float32 — the
    third memory rung after int8 scalar quantization), queries
    answered by ADC over the CODES table. Approximate index, exact
    value hash: fit, encode and the ADC ranking all unroll into
    CTEs because every step is rounded deterministic IEEE
    arithmetic. Encode is one literal-codebook projection (zero
    shuffle/Python); ADC is broadcast-queries × codes scan."""
    from .operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    books = pq.pq_fit(emb, m=8, k_sub=16, iters=1)
    codes = pq.pq_encode(emb, books)
    return pq.pq_adc_topk(
        codes, books, emb.filter(F.col("vec_id") < 5), k=10
    )


def _opq_v_blocks(dim: int = 64) -> list[str]:
    """Rotation CTE chain for the OPQ oracle: per-element double
    casts, then each rotated coordinate as the SAME fixed-order
    left-associative ±sum the Spark literal-matmul emits (leading
    unary minus parses as ((-e[1]) + e[2]) in both engines; the
    1/√dim scale is an exact power of two), so the rotated doubles
    are bitwise identical with NO rounding step."""
    import math

    from .operators.pq import hadamard_weights, opq_signs

    w = hadamard_weights(dim, opq_signs(dim))
    scale = repr(1.0 / math.sqrt(dim))
    dims_sql = []
    for i in range(dim):
        terms = "".join(
            (" + " if w[i][j] > 0 else " - ") + f"e[{j + 1}]" for j in range(dim)
        )
        body = terms[3:] if terms.startswith(" + ") else "-" + terms[3:]
        dims_sql.append(f"{scale} * ({body})")
    arr = ",\n         ".join(dims_sql)
    return [
        f"""ve AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), v AS MATERIALIZED (
      SELECT vec_id, [{arr}] AS em FROM ve
    )"""
    ]


@register(
    "sim_opq_adc_topk",
    oracle=_pq_oracle(m=8, dim=64, ksub=16, n_queries=5, k=10, v_blocks=_opq_v_blocks()),
)
def sim_opq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ rung of the ANN ladder (round 10): PQ after an orthonormal
    pre-rotation (Ge et al. 2013 motivate rotating so variance
    spreads across subspaces; this is the structured signed
    Walsh-Hadamard variant — FAISS's "PQ with random rotation" — the
    learned eigendecomposition form is not SQL-reproducible). The
    rotation is exactly isometric, so ADC distances keep their
    meaning while per-subspace quantization error drops on
    axis-concentrated data; it is ONE flat literal-matmul projection
    (4096 codegen adds per row, zero shuffle/Python — deliberately
    not the staged butterfly, which ProjectCollapse would inline
    combinatorially), and every rotated double is bitwise identical
    in the oracle with no rounding. Fit, encode and ADC then reuse
    the PQ machinery unchanged on the rotated corpus.

    Round 12 (optimization): the rotated corpus is materialized ONCE
    via a lazy localCheckpoint. Unchecked, the 4096-add projection
    was re-planned AND re-evaluated over the full corpus in three
    separate passes (fit init collect, fit partials, the encode scan
    under ADC) — Catalyst + Janino pay per plan for the giant
    expression tree, the executor pays per pass. The checkpoint is
    the same move the stored-index twin (``sim_opq_stored``) already
    makes by writing the rotated space to its versioned dir: rotated
    floats are a fit/encode-time intermediate, never a serving-time
    table, so materializing them once is the 100 TB shape too (FAISS
    trains OPQ on a materialized rotated sample). This entry is on
    the EAGER_BUILD_ALLOWLIST (the fit collect), so the checkpoint
    job is within the build contract; values are bitwise unchanged
    (a checkpoint only stores what the projection computed)."""
    from .operators import pq
    from .operators.dedup import _LocalCheckpointHandle, _register_cached

    emb = _t(spark, sf_dir, "embeddings")
    rot = pq.fwht_rotate(emb, dim=64).localCheckpoint(eager=False)
    books = pq.pq_fit(rot, m=8, k_sub=16, iters=1)
    codes = pq.pq_encode(rot, books)
    return _register_cached(
        pq.pq_adc_topk(codes, books, rot.filter(F.col("vec_id") < 5), k=10),
        _LocalCheckpointHandle(rot),
    )


@register(
    "sim_opq_stored",
    oracle=_ivf_pq_oracle(
        m=8, dim=64, ksub=16, n_cells=8, nprobe=2, n_queries=5, k=10,
        v_blocks=_opq_v_blocks(),
    ),
)
def sim_opq_stored_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPQ rotation through the MATERIALIZED index lifecycle
    (round 10): ``pq_write_index(rotation='fwht')`` freezes the
    signed Walsh-Hadamard pre-rotation into meta.json alongside the
    quantizers — the whole versioned dir (centroids, codebooks,
    codes, batch vectors) lives in rotated space, and appends /
    queries / rebalance refits rotate at the boundary via the meta
    contract so a reader can never mix spaces. The stored probe
    hash-matches the fully-unrolled rotated IVF-PQ oracle (the same
    ``_ivf_pq_oracle`` chain over the bitwise-identical rotated
    corpus CTE). Rotation-frozen append and rebalance carry-over are
    pinned in test_pq.py."""
    from .operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    with _scratch(spark, "opqidx_q") as base:
        pq.pq_write_index(
            spark, base, emb, n_cells=8, m=8, k_sub=16, rotation="fwht"
        )
        out = pq.pq_query_index(
            spark, base, emb.filter(F.col("vec_id") < 5), k=10, nprobe=2
        )
        return _held(out, "query_id long, neighbor_id long, adc_dist double, rn int")


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), capped AS (
      SELECT doc_id, g FROM grams
      QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DF}
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), paired AS (
      SELECT id_a, id_b, i, sa.n AS na, sb.n AS nb
      FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
    )
    SELECT id_src, id_dst, containment FROM (
      SELECT id_a AS id_src, id_b AS id_dst, CAST(i AS DOUBLE) / na AS containment
      FROM paired
      UNION ALL
      SELECT id_b AS id_src, id_a AS id_dst, CAST(i AS DOUBLE) / nb AS containment
      FROM paired
    ) WHERE containment >= 0.9
    """,
)
def dedup_ngram_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED 3-gram containment |A∩B|/|A| ≥ 0.9 — the asymmetric
    quote-inclusion relation exact Jaccard misses (a short doc pasted
    whole into a long one: low Jaccard, containment ≈ 1; Lee et al.
    2021 §4). Same inverted-index + stop-shingle-cap plan as the
    Jaccard screen; both directions emitted from ONE undirected
    intersection table."""
    from .operators import dedup

    return dedup.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.9,
        max_shingle_freq=_NGRAM_MAX_DF,
    )


@register(
    "mix_language_unimax",
    oracle=f"""
    WITH cnt AS (
      SELECT lang,
             CAST(sum(len({_TOKS})) AS DOUBLE) AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT sum(n_tokens) AS tt, count(*) AS l FROM cnt
    ), ranked AS (
      SELECT lang, n_tokens, n_tokens * 1.0 AS cap, tt * 0.8 AS b, l,
             row_number() OVER (ORDER BY n_tokens * 1.0, lang) AS i,
             coalesce(sum(n_tokens * 1.0) OVER (
               ORDER BY n_tokens * 1.0, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_prev
      FROM cnt CROSS JOIN tot
    ), flag AS (
      SELECT *, cap < (b - cum_prev) / (l - i + 1) AS capped FROM ranked
    ), fin AS (
      SELECT sum(CASE WHEN capped THEN cap ELSE 0.0 END) AS csum,
             sum(CASE WHEN capped THEN 1 ELSE 0 END) AS k,
             any_value(b) AS bb, any_value(l) AS ll
      FROM flag
    ), rates AS (
      SELECT lang,
             CASE WHEN n_tokens > 0 THEN
               round((CASE WHEN capped THEN cap
                           ELSE least(cap, CASE WHEN ll > k
                                              THEN (bb - csum) / (ll - k)
                                              ELSE 0.0 END) END)
                     / n_tokens, 9) ELSE 0.0 END AS rate
      FROM flag CROSS JOIN fin
    )
    SELECT d.doc_id, d.lang FROM documents d
    JOIN rates USING (lang)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))
               AS UBIGINT) % 1000000
          < CAST(r.rate * 1000000 AS BIGINT)
    """.replace("r.rate", "rates.rate"),
)
def mix_language_unimax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced sampling (Chung et al. 2023 — the
    successor to temperature sampling, round 8): an 80%-of-corpus
    token budget split as equally as possible across languages with a
    1-epoch cap — on the fixture the four low-resource languages keep
    EVERY document (rate 1.0) and English alone absorbs the cut
    (rate ≈ 0.54), which is exactly the fairness property temperature
    sampling approximates without an epoch bound. The waterfilling is
    CLOSED-FORM window arithmetic over the 5-row language aggregate
    (no driver loop, no unrolled iterations — the capped set is the
    ascending-cap prefix, standard lemma, property-tested against the
    iterative reference); membership is the salted-md5 bucket."""
    from .operators import curation

    return curation.unimax_language_sample(
        _t(spark, sf_dir, "documents"), budget_fraction=0.8, max_epochs=1.0
    ).select("doc_id", "lang")


@register(
    "mix_unimax_epochs",
    oracle=f"""
    WITH cnt AS (
      SELECT lang,
             CAST(sum(len({_TOKS})) AS DOUBLE) AS n_tokens
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT sum(n_tokens) AS tt, count(*) AS l FROM cnt
    ), ranked AS (
      SELECT lang, n_tokens, n_tokens * 3.0 AS cap, tt * 2.0 AS b, l,
             row_number() OVER (ORDER BY n_tokens * 3.0, lang) AS i,
             coalesce(sum(n_tokens * 3.0) OVER (
               ORDER BY n_tokens * 3.0, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_prev
      FROM cnt CROSS JOIN tot
    ), flag AS (
      SELECT *, cap < (b - cum_prev) / (l - i + 1) AS capped FROM ranked
    ), fin AS (
      SELECT sum(CASE WHEN capped THEN cap ELSE 0.0 END) AS csum,
             sum(CASE WHEN capped THEN 1 ELSE 0 END) AS k,
             any_value(b) AS bb, any_value(l) AS ll
      FROM flag
    ), rates AS (
      SELECT lang,
             CASE WHEN n_tokens > 0 THEN
               round((CASE WHEN capped THEN cap
                           ELSE least(cap, CASE WHEN ll > k
                                              THEN (bb - csum) / (ll - k)
                                              ELSE 0.0 END) END)
                     / n_tokens, 9) ELSE 0.0 END AS rate
      FROM flag CROSS JOIN fin
    ), expanded AS (
      SELECT d.doc_id, d.lang,
             CAST(floor(rates.rate) AS INT)
             + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))
                         AS UBIGINT) % 1000000
                    < CAST(round((rates.rate - floor(rates.rate)) * 1000000, 0) AS BIGINT)
                    THEN 1 ELSE 0 END AS n
      FROM documents d JOIN rates USING (lang)
    )
    SELECT doc_id, lang, CAST(u.copy AS INT) AS copy
    FROM expanded, UNNEST(range(1, n + 1)) AS u(copy)
    WHERE n > 0
    """,
)
def mix_unimax_epochs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax's repetition half (round 8): a 2×-corpus token budget
    with a 3-epoch cap — every language's rate EXCEEDS 1, and the
    expansion emits floor(rate) copies of every doc plus a
    reproducible salted-md5 fraction a further time, the repetition
    stream a packing stage consumes (this is how UniMax actually
    feeds pretraining: low-resource languages repeat up to the cap,
    the giants repeat less). One broadcast rate join + one
    explode(sequence) riding the scan; the oracle replays the
    closed-form waterfilling and the per-doc copy arithmetic."""
    from .operators import curation

    return curation.unimax_epoch_expand(
        _t(spark, sf_dir, "documents"), budget_fraction=2.0, max_epochs=3.0
    ).select("doc_id", "lang", "copy")


def _doremi_oracle(iters: int = 3, eta: float = 1.0, smoothing: float = 0.2) -> str:
    """Unrolled twin of ``curation.doremi_domain_weights``: the
    unigram (proxy) and interpolated-bigram (reference) scoring CTEs
    of ``text_unigram_logprob`` / ``text_bigram_perplexity`` share one
    token table, feed the per-domain excess-loss aggregate, then
    ``iters`` multiplicative-weight updates with uniform smoothing —
    each a domain-sized projection + one exact-decimal normalizer."""
    c = float(smoothing)
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""g{t} AS (
      SELECT dom, excess, round(w * exp({float(eta)!r} * excess), 6) AS g
      FROM w{t - 1}
    ), tg{t} AS (
      SELECT CAST(SUM(CAST(g AS DECIMAL(18,6))) AS DOUBLE) AS tg FROM g{t}
    ), w{t} AS (
      SELECT dom, excess,
             round({1.0 - c!r} * g / tg + {c!r} / l, 9) AS w
      FROM g{t}, tg{t}, nl
    )""")
    step_sql = ",\n    ".join(steps)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS MATERIALIZED (
      SELECT doc_id, unnest(t) AS term FROM toks
    ), tf AS MATERIALIZED (
      SELECT term, count(*) AS tf FROM uni GROUP BY term
    ), utot AS (
      SELECT sum(tf) AS n, count(*) AS v FROM tf
    ), ulp AS MATERIALIZED (
      SELECT term, round(ln(CAST(tf AS DOUBLE) / n), 8) AS logp
      FROM tf, utot
    ), uscore AS MATERIALIZED (
      SELECT doc_id, round({sql_dsum("logp")} / count(*), 6) AS mean_logprob
      FROM uni JOIN ulp USING (term) GROUP BY doc_id
    ), bi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM bi GROUP BY l, r
    ), ctx AS (
      SELECT l, sum(cb) AS cl FROM bc GROUP BY l
    ), blp AS MATERIALIZED (
      SELECT bc.l, bc.r,
             round(ln((bc.cb + 1.0 * ((tf.tf + 1)
                                      / CAST(utot.n + utot.v AS DOUBLE)))
                      / (ctx.cl + 1.0)), 8) AS lp
      FROM bc JOIN ctx USING (l) JOIN tf ON tf.term = bc.r CROSS JOIN utot
    ), bscore AS MATERIALIZED (
      SELECT doc_id, round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM bi JOIN blp USING (l, r) GROUP BY doc_id
    ), perdoc AS (
      SELECT d.source AS dom,
             round(greatest((-u.mean_logprob) - b.xent, 0.0), 6) AS ex
      FROM documents d
      JOIN uscore u USING (doc_id) JOIN bscore b USING (doc_id)
    ), lam AS MATERIALIZED (
      SELECT dom, round({sql_dsum("ex")} / count(*), 6) AS excess
      FROM perdoc GROUP BY dom
    ), nl AS (
      SELECT count(*) AS l FROM lam
    ), w0 AS (
      SELECT dom, excess, round(1.0 / l, 9) AS w FROM lam, nl
    ), {step_sql}
    SELECT dom AS source, excess, w AS weight FROM w{iters}
    """


def _doremi_sample_oracle(
    target_fraction: float = 0.5,
    iters: int = 3,
    eta: float = 1.0,
    smoothing: float = 0.2,
    buckets: int = 1_000_000,
) -> str:
    """The DoReMi weights chain + the deterministic md5-bucket
    realization: rate_d = min(1, f·N·w_d / n_d) — the temperature-mix
    membership protocol with the MW weights as the target shares."""
    base = _doremi_oracle(iters, eta, smoothing)
    cut = base.rindex("SELECT dom AS source")
    return (
        base[:cut].rstrip().rstrip(",")
        + f""", wfin AS (
      SELECT dom AS source, w FROM w{iters}
    ), scnt AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), stot AS (
      SELECT sum(n) AS nn FROM scnt
    ), srates AS (
      SELECT wfin.source,
             round(least(1.0, {float(target_fraction)!r} * nn * w / n), 9) AS rate
      FROM wfin JOIN scnt USING (source) CROSS JOIN stot
    )
    SELECT d.doc_id, d.source FROM documents d
    JOIN srates r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))
               AS UBIGINT) % {buckets}
          < CAST(r.rate * {buckets} AS BIGINT)
    """
    )


@register("mix_doremi_sample", oracle=_doremi_sample_oracle())
def mix_doremi_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DoReMi mixture REALIZED (round 9): the MW-optimized domain
    weights become per-domain keep rates (rate_d = min(1, f·N·w_d /
    n_d) — exactly how temperature mixing realizes its shares) and
    the deterministic salted-md5 membership selects the documents —
    zero data shuffles beyond the weight derivation, retry-stable,
    monotone in the rates. Composes two hash-checked pieces
    (mix_doremi_weights + the weighted_domain_sample protocol) into a
    third, end to end under one hash."""
    from .operators import curation

    return curation.doremi_domain_sample(
        _t(spark, sf_dir, "documents"),
        target_fraction=0.5, iters=3, eta=1.0, smoothing=0.2,
    )


def _doremi_tier_oracle(
    iters: int = 3, eta: float = 1.0, smoothing: float = 0.2
) -> str:
    """Unrolled twin of the curator's MAINTAINED DoReMi tier (round
    10 — r9 verdict #4): the greedy dedup fold decides the accepted
    corpus; the LM scoring CTEs run against the artifact fitted on
    ALL documents (the persisted sidecar); the per-domain excess
    aggregate restricts to the accepted set; the MW unroll is the
    ``mix_doremi_weights`` chain verbatim. Because the curator's tier
    folds exact-decimal per-batch partials, its end state after three
    batches must hash-equal this single-pass refit."""
    base = _doremi_oracle(iters, eta, smoothing)
    frag = _greedy_curation_stages("documents")
    stages = frag[
        frag.index("grams_all AS") : frag.rindex("SELECT doc_id FROM a2")
    ].rstrip().rstrip(",")
    marker = "FROM documents d\n      JOIN uscore"
    assert marker in base  # perdoc surgery anchor
    base = base.replace(
        marker,
        "FROM documents d\n      JOIN a2 USING (doc_id)\n      JOIN uscore",
        1,
    )
    cut = base.index("), perdoc AS (")
    return (
        base[:cut]
        + "), "
        + stages
        + ",\n    "
        + base[cut + len("), "):]
    )


@register("pipeline_streaming_doremi", oracle=_doremi_tier_oracle())
def pipeline_streaming_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi mixture weights as a MAINTAINED curator tier (round 10 —
    r9 verdict #4): the documents table arrives as three micro-batches
    through the real ``StreamingCorpusCurator`` with ``doremi_lm_path``
    set (one persisted ``write_bigram_lm`` artifact powers the unigram
    proxy AND the bigram reference scorer); each batch folds its
    ACCEPTED docs' per-domain excess sums into the additive
    exact-decimal tier, and the final ``doremi_weights()`` — one
    domain-sized read + the MW fold, never a corpus re-scan — must
    hash-equal the oracle's single-pass refit over the same accepted
    corpus. Per-prefix equality, eviction deltas and compaction
    healing are pinned in ``test_streaming_curator.py``; replay
    idempotence rides the per-batch-dir overwrite discipline."""
    from .operators import textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    uc, ctx, bc, meta = textops.fit_bigram_lm(docs)
    with _scratch(spark, "doremi_q") as base:
        lmdir = f"{base}/lm"
        textops.write_bigram_lm(lmdir, uc, ctx, bc, meta)
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur",
            threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            doremi_lm_path=lmdir,
        )
        _thirds(cur, docs)
        rows = [
            (r.source, float(r.excess), float(r.weight))
            for r in cur.doremi_weights(iters=3, eta=1.0, smoothing=0.2).collect()
        ]
        return spark.createDataFrame(
            rows, "source string, excess double, weight double"
        )


@register("mix_doremi_weights", oracle=_doremi_oracle())
def mix_doremi_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi training-mixture optimization (Xie et al. 2023, round
    9): per-domain excess loss between the engine's two corpus-fit
    LMs (unigram proxy vs interpolated-bigram reference — the
    self-contained analog of the paper's proxy/reference
    transformers) drives 3 multiplicative-weight updates with uniform
    smoothing, from uniform weights. The entire optimization — two LM
    scoring passes, one domain-sized aggregate, the unrolled MW fold —
    hash-checks against DuckDB, exp() included (the ppl precedent:
    both engines exponentiate identical rounded doubles). The output
    weights feed ``weighted_domain_sample`` as rates ∝ weight/share
    the way temperature rates do."""
    from .operators import curation

    return curation.doremi_domain_weights(
        _t(spark, sf_dir, "documents"), iters=3, eta=1.0, smoothing=0.2
    )


@register(
    "mix_domain_temperature",
    oracle="""
    WITH cnt AS (
      SELECT source, count(*) AS n FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(n) AS nn FROM cnt
    ), w AS (
      SELECT source, n, nn,
             round(pow(n / CAST(nn AS DOUBLE), 0.5), 12) AS wd
      FROM cnt CROSS JOIN tot
    ), z AS (
      SELECT CAST(SUM(CAST(wd AS DECIMAL(38,18))) AS DOUBLE) AS zz FROM w
    ), rates AS (
      SELECT source,
             round(least(1.0, 0.5 * nn * (wd / zz) / n), 9) AS rate
      FROM w CROSS JOIN z
    )
    SELECT d.doc_id, d.source FROM documents d
    JOIN rates r USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8))
               AS UBIGINT) % 1000000
          < CAST(r.rate * 1000000 AS BIGINT)
    """,
)
def mix_domain_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (the alpha-sampling of
    T5/GPT-3/Gopher): output domain shares ∝ share^0.5 at an overall
    keep fraction of 0.5 — small domains upweighted, large ones
    downsampled, rates DERIVED from the corpus itself (one
    domain-sized aggregate + 1-row broadcasts, fully lazy) instead of
    hand-picked. Membership stays the salted-md5 bucket of the doc
    key: reproducible, monotone, zero data shuffles."""
    from .operators import curation

    return curation.temperature_domain_sample(
        _t(spark, sf_dir, "documents"), alpha=0.5, target_fraction=0.5
    ).select("doc_id", "source")


@register(
    "export_curriculum_shards",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, text, {_TOKS} AS t,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shards:42'), 1, 8))
                  AS BIGINT) AS h
      FROM documents
    ), scored AS (
      SELECT doc_id, h % 8 AS shard,
             round(
               least(length(text) / 400.0, 1.0) * 0.4
               + (1.0 - abs(CAST(len(list_filter(t,
                     x -> x IN {_STOPS})) AS DOUBLE) / len(t) - 0.3)) * 0.3
               + (1.0 - least(abs(CAST(list_sum(list_transform(t,
                     x -> length(x))) AS DOUBLE) / len(t) - 5.0) / 5.0, 1.0)) * 0.3,
             9) AS q
      FROM t0
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
                ORDER BY q DESC, doc_id) - 1 AS BIGINT) AS pos,
           q
    FROM scored
    """,
)
def export_curriculum_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered curriculum export: reproducible md5 shard
    assignment (same layout contract as export_shuffle_shards) with
    highest-quality-first read order WITHIN each shard — the
    quality-annealing schedule (best data where the schedule wants
    it; Blakeney et al. 2024 public form). Score is per-row codegen,
    rounded to 9 before ranking; the only exchange is the shard hash
    partitioning the data needs anyway."""
    from .operators import curation

    return curation.curriculum_shards(
        _t(spark, sf_dir, "documents"), n_shards=8, seed="42"
    )


@register(
    "quality_perplexity_band",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS MATERIALIZED (
      SELECT unnest(t) AS w FROM toks
    ), uc AS MATERIALIZED (
      SELECT w, count(*) AS cw FROM uni GROUP BY w
    ), tot AS (
      SELECT sum(cw) AS n, count(*) AS v FROM uc
    ), bi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM toks, UNNEST(range(1, len(t))) AS u(i)
    ), bc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM bi GROUP BY l, r
    ), ctx AS (
      SELECT l, sum(cb) AS cl FROM bc GROUP BY l
    ), lp AS MATERIALIZED (
      SELECT bc.l, bc.r,
             round(ln((bc.cb + 1.0 * ((uc.cw + 1)
                                      / CAST(tot.n + tot.v AS DOUBLE)))
                      / (ctx.cl + 1.0)), 8) AS lp
      FROM bc JOIN ctx USING (l) JOIN uc ON uc.w = bc.r CROSS JOIN tot
    ), sc AS MATERIALIZED (
      SELECT doc_id, round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM bi JOIN lp USING (l, r) GROUP BY doc_id
    ), th AS (
      SELECT round(quantile_cont(xent, {1.0 / 3.0!r}), 9) AS t1,
             round(quantile_cont(xent, {2.0 / 3.0!r}), 9) AS t2
      FROM sc WHERE xent IS NOT NULL
    )
    SELECT t.doc_id, sc.xent,
           CASE WHEN sc.xent IS NULL THEN 'unscored'
                WHEN sc.xent <= th.t1 THEN 'head'
                WHEN sc.xent <= th.t2 THEN 'middle'
                ELSE 'tail' END AS band
    FROM toks t LEFT JOIN sc USING (doc_id) CROSS JOIN th
    """,
)
def quality_perplexity_band_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020
    §4.3): every document banded by its bigram-LM cross-entropy
    tercile — 'head' = most fluent third, the slice CCNet keeps
    outright. Terciles are exact interpolated percentiles of the
    rounded xent in ONE 1-row aggregate broadcast back (lazy); the
    scoring chain is the single-scan ``bigram_logprob`` plan. At
    100 TB the cut switches to percentile_approx under the
    approx_stats_bounded protocol (the exact form's merge buffer is
    O(distinct values), documented in the operator)."""
    from .operators import textops

    scored = textops.bigram_logprob(_t(spark, sf_dir, "documents")).select(
        "doc_id", "xent"
    )
    return textops.perplexity_bands(scored)


@register(
    "pipeline_streaming_perplexity",
    oracle=f"""
    WITH ltoks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), luc AS MATERIALIZED (
      SELECT w, count(*) AS cw
      FROM (SELECT unnest(t) AS w FROM ltoks) GROUP BY w
    ), ltot AS (
      SELECT sum(cw) AS n, count(*) AS v FROM luc
    ), lbi AS MATERIALIZED (
      SELECT t[i] AS l, t[i + 1] AS r
      FROM ltoks, UNNEST(range(1, len(t))) AS u(i)
    ), lbc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM lbi GROUP BY l, r
    ), lctx AS MATERIALIZED (
      SELECT l, sum(cb) AS cl FROM lbc GROUP BY l
    ), mut AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 37 = 0
                  THEN array_to_string(list_transform({_TOKS},
                                                      x -> reverse(x)), ' ')
                  ELSE text END AS text
      FROM documents
    ), mtoks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM mut
    ), mbi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM mtoks, UNNEST(range(1, len(t))) AS u(i)
    ), slp AS MATERIALIZED (
      SELECT doc_id,
             round(ln((coalesce(lbc.cb, 0)
                       + 1.0 * ((coalesce(luc.cw, 0) + 1)
                                / CAST(ltot.n + ltot.v AS DOUBLE)))
                      / (coalesce(lctx.cl, 0) + 1.0)), 8) AS lp
      FROM mbi
      LEFT JOIN lbc USING (l, r)
      LEFT JOIN lctx USING (l)
      LEFT JOIN luc ON luc.w = mbi.r
      CROSS JOIN ltot
    ), sx AS MATERIALIZED (
      SELECT doc_id, round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM slp GROUP BY doc_id
    ), kept AS MATERIALIZED (
      SELECT m.doc_id, m.text
      FROM mut m LEFT JOIN sx USING (doc_id)
      WHERE sx.xent IS NULL OR sx.xent <= 5.0
    ), """
    + _greedy_curation_stages("kept"),
)
def pipeline_streaming_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END perplexity-screened streaming curation (round 7
    continued — the CCNet recipe through the real curator): a bigram
    LM is fitted on the clean corpus and persisted
    (``write_bigram_lm``); the stream carries PLANTED GIBBERISH
    (every 37th doc word-reversed — unseen vocabulary, xent ≈ 10 vs
    the corpus' ≈ 3.4); ``StreamingCorpusCurator(perplexity_lm_path=
    …)`` rejects everything above xent 5.0 before the incremental
    capped-Jaccard dedup and the greedy fold. The oracle replays the
    WHOLE chain — LM count tables, the mutation, backoff-smoothed
    scoring, the keep set, the 3-stage greedy fold — so the hash
    pins the composition: a gibberish doc is never indexed and never
    rejects a later near-dup."""
    from .operators import textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.array_join(
                F.transform(textops.tokens("text"), lambda x: F.reverse(x)), " "
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    with _scratch(spark, "curation_ppl") as base:
        lmdir = f"{base}/lm"
        uc, ctx, bc, meta = textops.fit_bigram_lm(docs)
        textops.write_bigram_lm(lmdir, uc, ctx, bc, meta)
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur", threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            perplexity_lm_path=lmdir, perplexity_max_xent=5.0,
        )
        _thirds(cur, mut)
        return _held(cur.accepted(), "doc_id long")


def _kn3_curation_oracle(max_xent: float = 5.0) -> str:
    """Unrolled twin of the KN3-screened curation loop (round 10 —
    r9 verdict #5): the order-3 Kneser-Ney model fitted on the CLEAN
    corpus (every lower order a continuation aggregate of the one
    trigram-type table), the word-reversal gibberish plant, the
    full coalesce-to-zero BACKOFF scoring of the mutated stream —
    unseen trigram → discount mass carries p_mid; unseen context →
    p_mid; unseen middle → p_cont; unseen word → the 1/(N1+(···)+V)
    continuation floor — the xent cut, then the 3-stage greedy fold
    over the keep set. This is the entry that exercises the stored
    scorer's OOV branches end-to-end under the hash gate (the
    ``text_kn3_stored`` law only sees seen events)."""
    pcont = (
        "CASE WHEN lcontw.n1w IS NOT NULL"
        " THEN lcontw.n1w / CAST(ltot.ntc AS DOUBLE)"
        " ELSE 1.0 / CAST(ltot.ntc + ltot.vw AS DOUBLE) END"
    )
    pmid = (
        "CASE WHEN lmidv.n1v_ IS NOT NULL"
        " THEN greatest(coalesce(lcont2.n1vw, 0) - 0.75, 0.0) / lmidv.n1v_"
        f" + (0.75 * lmidv.nv_ / lmidv.n1v_) * ({pcont})"
        f" ELSE ({pcont}) END"
    )
    ptop = (
        "CASE WHEN lcuv.cuv IS NOT NULL"
        " THEN greatest(coalesce(ltc.c3, 0) - 0.75, 0.0) / lcuv.cuv"
        f" + (0.75 * lcuv.n1uv / lcuv.cuv) * ({pmid})"
        f" ELSE ({pmid}) END"
    )
    return (
        f"""
    WITH ltoks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), ltri AS MATERIALIZED (
      SELECT t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
      FROM ltoks, UNNEST(range(1, len(t) - 1)) AS x(i)
    ), ltc AS MATERIALIZED (
      SELECT u, v, w, count(*) AS c3 FROM ltri GROUP BY u, v, w
    ), lcuv AS MATERIALIZED (
      SELECT u, v, sum(c3) AS cuv, count(*) AS n1uv FROM ltc GROUP BY u, v
    ), lcont2 AS MATERIALIZED (
      SELECT v, w, count(*) AS n1vw FROM ltc GROUP BY v, w
    ), lmidv AS (
      SELECT v, sum(n1vw) AS n1v_, count(*) AS nv_ FROM lcont2 GROUP BY v
    ), lcontw AS (
      SELECT w, count(*) AS n1w FROM lcont2 GROUP BY w
    ), ltot AS (
      SELECT count(*) AS ntc, count(DISTINCT w) AS vw FROM lcont2
    ), mut AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN doc_id % 37 = 0
                  THEN array_to_string(list_transform({_TOKS},
                                                      x -> reverse(x)), ' ')
                  ELSE text END AS text
      FROM documents
    ), mtoks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM mut
    ), mtri AS MATERIALIZED (
      SELECT doc_id, t[i] AS u, t[i + 1] AS v, t[i + 2] AS w
      FROM mtoks, UNNEST(range(1, len(t) - 1)) AS x(i)
    ), slp AS MATERIALIZED (
      SELECT doc_id, round(ln({ptop}), 8) AS lp
      FROM mtri
      LEFT JOIN ltc USING (u, v, w)
      LEFT JOIN lcuv USING (u, v)
      LEFT JOIN lcont2 USING (v, w)
      LEFT JOIN lmidv USING (v)
      LEFT JOIN lcontw USING (w)
      CROSS JOIN ltot
    ), sx AS MATERIALIZED (
      SELECT doc_id, round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM slp GROUP BY doc_id
    ), kept AS MATERIALIZED (
      SELECT m.doc_id, m.text
      FROM mut m LEFT JOIN sx USING (doc_id)
      WHERE sx.xent IS NULL OR sx.xent <= {max_xent}
    ), """
        + _greedy_curation_stages("kept")
    )


@register("pipeline_perplexity_kn3", oracle=_kn3_curation_oracle())
def pipeline_perplexity_kn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END KN3-screened streaming curation (round 10 — r9
    verdict #5, the CCNet screen at full KenLM order-3 fidelity): the
    trigram KN model is fitted on the clean corpus and PERSISTED
    (``write_trigram_lm``); the stream carries the word-reversal
    gibberish plant (every 37th doc — unseen words, xent ≈ 10 via the
    continuation floor vs the corpus' in-model scores); the curator's
    perplexity screen AUTO-DETECTS the lm3.json artifact and scores
    with the stored KN3 scorer — every OOV backoff branch fires on
    the planted docs — before the incremental dedup and the greedy
    fold. Non-vacuity (the screen rejects, and rejects ONLY, above
    the cut) is pinned in test_streaming_curator.py."""
    from .operators import textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.array_join(
                F.transform(textops.tokens("text"), lambda x: F.reverse(x)), " "
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    with _scratch(spark, "curation_kn3") as base:
        lmdir = f"{base}/lm"
        tc, meta = textops.fit_trigram_lm(docs)
        textops.write_trigram_lm(lmdir, tc, meta)
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur", threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            perplexity_lm_path=lmdir, perplexity_max_xent=5.0,
        )
        _thirds(cur, mut)
        return _held(cur.accepted(), "doc_id long")


def _length_band_curation_oracle(min_docs: int = 30) -> str:
    """Unrolled-CTE twin of the curator's ADAPTIVE length-band fold:
    per stage k, the [q05, q95] token-count band is the HDR-sketch
    quantile estimate (LEN_HDR_SUB_BITS=6 — pure integer bucketing,
    bit-identical cross-engine) over the docs accepted so far; the
    band is inert while that set is smaller than ``min_docs`` (the
    warmup OR-branch, which also covers stage 0's empty tier). The
    screened batch then runs the greedy capped-Jaccard fold. Every
    stage's decisions depend on the previous stage's accepted set, so
    the hash pins the full closed loop: screen → dedup → tier →
    next-stage cutoffs."""
    stage = """hsk{k} AS (
      SELECT greatest(length(bin(v)) - 1 - 6, 0) * 64
             + v // (1::BIGINT << greatest(length(bin(v)) - 1 - 6, 0)) AS idx,
             count(*) AS cnt
      FROM tc WHERE doc_id IN (SELECT doc_id FROM a{prev})
      GROUP BY 1
    ), hcum{k} AS (
      SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM hsk{k}
    ), htot{k} AS (
      SELECT count(*) AS total FROM tc
      WHERE doc_id IN (SELECT doc_id FROM a{prev})
    ), braw{k} AS (
      SELECT q.q, min(c.idx) AS raw
      FROM hcum{k} c CROSS JOIN htot{k} t
      CROSS JOIN (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS q) q
      WHERE c.cum >= ceil(q.q * t.total) GROUP BY q.q
    ), band{k} AS MATERIALIZED (
      SELECT q, CASE WHEN raw < 64 THEN raw
                     ELSE (raw - (raw // 64 - 1) * 64)
                          * (1::BIGINT << (raw // 64 - 1)) END AS est
      FROM braw{k}
    ), scr{k} AS MATERIALIZED (
      SELECT doc_id FROM tc
      WHERE doc_id % 3 = {k} AND (
        (SELECT count(*) FROM a{prev}) < {min_docs}
        OR (v >= (SELECT est FROM band{k} WHERE q = 0.05)
            AND v <= (SELECT est FROM band{k} WHERE q = 0.95)))
    ), u{k} AS (
      SELECT doc_id, g FROM grams_all
      WHERE doc_id IN (SELECT doc_id FROM a{prev})
         OR doc_id IN (SELECT doc_id FROM scr{k})
    ), c{k} AS (
      SELECT doc_id, g FROM u{k}
      QUALIFY count(*) OVER (PARTITION BY g) <= {cap}
    ), s{k} AS (
      SELECT doc_id, count(*) AS n FROM c{k} GROUP BY doc_id
    ), i{k} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM c{k} a JOIN c{k} b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p{k} AS (
      SELECT id_a, id_b FROM i{k}
      JOIN s{k} sa ON id_a = sa.doc_id
      JOIN s{k} sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), rej{k} AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT CASE
          WHEN id_a IN (SELECT doc_id FROM scr{k})
               AND id_b IN (SELECT doc_id FROM scr{k}) THEN id_b
          WHEN id_a IN (SELECT doc_id FROM scr{k}) THEN id_a
          WHEN id_b IN (SELECT doc_id FROM scr{k}) THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{prev}
      UNION ALL
      SELECT doc_id FROM scr{k}
      WHERE doc_id NOT IN (SELECT doc_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(
            k=k,
            prev="_empty" if k == 0 else k - 1,
            cap=_NGRAM_MAX_DF,
            min_docs=min_docs,
        )
        for k in (0, 1, 2)
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), tc AS MATERIALIZED (
      SELECT doc_id, len(t) AS v FROM toks
    ), grams_all AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM toks WHERE len(t) >= 3
    ), a_empty AS (
      SELECT doc_id FROM documents WHERE 1 = 0
    ), {stages}
    SELECT doc_id FROM a2
    """


def _full_stack_curation_oracle(
    min_docs: int = 30, max_xent: float = 3.44, url_screen: bool = False
) -> str:
    """Unrolled twin of the ALL-SCREENS curator loop (round 8 — r7
    verdict #6): quality (unrolled GD fit + threshold), perplexity
    (self-fit bigram LM, xent cutoff), Bloom decontamination (every
    83rd doc is the benchmark set; positions rebuilt bit-for-bit) are
    batch-independent and computed once as the ``static_kept`` set;
    the ADAPTIVE length band (HDR quantiles over the accepted-so-far
    corpus) and the greedy capped-Jaccard dedup fold run per stage —
    so stage k's accepted set moves stage k+1's cutoffs THROUGH the
    composition of all five screens. ``url_screen=True`` (round 10 —
    r9 verdict #3) puts the crawl-metadata blocklist FIRST: a
    URL-rejected doc never reaches ``static_kept``, so it can neither
    enter a stage's screen set nor seed the HDR band or the gram
    index that set LATER stages' cutoffs — the never-indexed contract
    composed through all six screens. Per-screen non-vacuity on the
    fixture is pinned in test_oracle_parity.py."""
    static = f"""
    , ltoks AS MATERIALIZED (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ), luc AS MATERIALIZED (
      SELECT w, count(*) AS cw
      FROM (SELECT unnest(t) AS w FROM ltoks) GROUP BY w
    ), ltot AS (
      SELECT sum(cw) AS n, count(*) AS v FROM luc
    ), lbi AS MATERIALIZED (
      SELECT doc_id, t[i] AS l, t[i + 1] AS r
      FROM ltoks, UNNEST(range(1, len(t))) AS u(i)
    ), lbc AS MATERIALIZED (
      SELECT l, r, count(*) AS cb FROM lbi GROUP BY l, r
    ), lctx AS MATERIALIZED (
      SELECT l, sum(cb) AS cl FROM lbc GROUP BY l
    ), slp AS MATERIALIZED (
      SELECT doc_id,
             round(ln((coalesce(lbc.cb, 0)
                       + 1.0 * ((coalesce(luc.cw, 0) + 1)
                                / CAST(ltot.n + ltot.v AS DOUBLE)))
                      / (coalesce(lctx.cl, 0) + 1.0)), 8) AS lp
      FROM lbi
      LEFT JOIN lbc USING (l, r)
      LEFT JOIN lctx USING (l)
      LEFT JOIN luc ON luc.w = lbi.r
      CROSS JOIN ltot
    ), sx AS MATERIALIZED (
      SELECT doc_id, round(-{sql_dsum("lp")} / count(*), 6) AS xent
      FROM slp GROUP BY doc_id
    ), gr3 AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM ltoks WHERE len(t) >= 3
    ), bpos AS (
      SELECT DISTINCT CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM (SELECT DISTINCT g FROM gr3 WHERE doc_id % 83 = 0)
      CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), cprobe AS (
      SELECT doc_id, g, i,
             CAST(CAST(('0x' || substr(md5(g || ':bloom:' || CAST(i AS VARCHAR)), 1, 8))
             AS UBIGINT) % 131072 AS BIGINT) AS pos
      FROM (SELECT doc_id, g FROM gr3 WHERE doc_id % 83 <> 0)
      CROSS JOIN (SELECT unnest(range(3)) AS i)
    ), hitg AS (
      SELECT doc_id, g FROM cprobe JOIN bpos USING (pos)
      GROUP BY doc_id, g HAVING count(DISTINCT i) = 3
    ), gsz AS (
      SELECT doc_id, count(*) AS ng FROM gr3 WHERE doc_id % 83 <> 0 GROUP BY 1
    ), ghit AS (
      SELECT doc_id, count(*) AS nh FROM hitg GROUP BY 1
    ), contam AS (
      SELECT gsz.doc_id FROM gsz LEFT JOIN ghit USING (doc_id)
      WHERE CAST(coalesce(ghit.nh, 0) AS DOUBLE) / gsz.ng >= 0.1
    ){{url_ctes}}, static_kept AS MATERIALIZED (
      SELECT d.doc_id FROM documents d
      JOIN scored USING (doc_id)
      LEFT JOIN sx USING (doc_id)
      WHERE d.doc_id % 83 <> 0
        AND scored.keep
        AND (sx.xent IS NULL OR sx.xent <= {max_xent})
        AND d.doc_id NOT IN (SELECT doc_id FROM contam){{url_and}}
    )"""
    if url_screen:
        ukeep = oracle_url_screen_sql(
            "url", blocked_domains=_URL_BLOCKED_DOMAINS
        )["keep"]
        static = static.format(
            url_ctes=f""", uplant AS MATERIALIZED (
      SELECT doc_id, {_URL_PLANT_SQL} AS url FROM documents
    ), ukeep AS MATERIALIZED (
      SELECT doc_id FROM uplant WHERE {ukeep}
    )""",
            url_and="\n        AND d.doc_id IN (SELECT doc_id FROM ukeep)",
        )
    else:
        static = static.format(url_ctes="", url_and="")
    stage = """hsk{k} AS (
      SELECT greatest(length(bin(v)) - 1 - 6, 0) * 64
             + v // (1::BIGINT << greatest(length(bin(v)) - 1 - 6, 0)) AS idx,
             count(*) AS cnt
      FROM tc WHERE doc_id IN (SELECT doc_id FROM a{prev})
      GROUP BY 1
    ), hcum{k} AS (
      SELECT idx, sum(cnt) OVER (ORDER BY idx) AS cum FROM hsk{k}
    ), htot{k} AS (
      SELECT count(*) AS total FROM tc
      WHERE doc_id IN (SELECT doc_id FROM a{prev})
    ), braw{k} AS (
      SELECT q.q, min(c.idx) AS raw
      FROM hcum{k} c CROSS JOIN htot{k} t
      CROSS JOIN (SELECT unnest([0.05::DOUBLE, 0.95::DOUBLE]) AS q) q
      WHERE c.cum >= ceil(q.q * t.total) GROUP BY q.q
    ), band{k} AS MATERIALIZED (
      SELECT q, CASE WHEN raw < 64 THEN raw
                     ELSE (raw - (raw // 64 - 1) * 64)
                          * (1::BIGINT << (raw // 64 - 1)) END AS est
      FROM braw{k}
    ), scr{k} AS MATERIALIZED (
      SELECT doc_id FROM tc
      WHERE doc_id % 3 = {k}
        AND doc_id IN (SELECT doc_id FROM static_kept)
        AND (
        (SELECT count(*) FROM a{prev}) < {min_docs}
        OR (v >= (SELECT est FROM band{k} WHERE q = 0.05)
            AND v <= (SELECT est FROM band{k} WHERE q = 0.95)))
    ), u{k} AS (
      SELECT doc_id, g FROM grams_all
      WHERE doc_id IN (SELECT doc_id FROM a{prev})
         OR doc_id IN (SELECT doc_id FROM scr{k})
    ), c{k} AS (
      SELECT doc_id, g FROM u{k}
      QUALIFY count(*) OVER (PARTITION BY g) <= {cap}
    ), s{k} AS (
      SELECT doc_id, count(*) AS n FROM c{k} GROUP BY doc_id
    ), i{k} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM c{k} a JOIN c{k} b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p{k} AS (
      SELECT id_a, id_b FROM i{k}
      JOIN s{k} sa ON id_a = sa.doc_id
      JOIN s{k} sb ON id_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
    ), rej{k} AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT CASE
          WHEN id_a IN (SELECT doc_id FROM scr{k})
               AND id_b IN (SELECT doc_id FROM scr{k}) THEN id_b
          WHEN id_a IN (SELECT doc_id FROM scr{k}) THEN id_a
          WHEN id_b IN (SELECT doc_id FROM scr{k}) THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{prev}
      UNION ALL
      SELECT doc_id FROM scr{k}
      WHERE doc_id NOT IN (SELECT doc_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(
            k=k,
            prev="_empty" if k == 0 else k - 1,
            cap=_NGRAM_MAX_DF,
            min_docs=min_docs,
        )
        for k in (0, 1, 2)
    )
    return (
        _logreg_cte(iters=6, lr=2.0)
        + static
        + f"""
    , tc AS MATERIALIZED (
      SELECT doc_id, len(t) AS v FROM ltoks
    ), grams_all AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
      FROM ltoks WHERE len(t) >= 3
    ), a_empty AS (
      SELECT doc_id FROM documents WHERE 1 = 0
    ), {stages}
    SELECT doc_id FROM a2
    """
    )


@register("pipeline_streaming_full_stack", oracle=_full_stack_curation_oracle())
def pipeline_streaming_full_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL FIVE curator screens in ONE closed loop under the hash gate
    (round 8 — r7 verdict #6): adaptive length band → learned quality
    → LM perplexity → Bloom decontamination → incremental
    capped-Jaccard dedup, each batch screened in exactly the
    curator's production order, with the length cutoffs read from the
    HDR tier over the survivors OF ALL SCREENS so far. Every prior
    round pinned the screens pairwise; this entry pins their
    ORDERING INTERACTIONS — e.g. the stage-2 band is computed over
    docs that also cleared quality/perplexity/Bloom in stages 0-1.
    The benchmark set is every 83rd doc (Bloom artifact rebuilt
    bit-for-bit by the oracle, false positives included); the quality
    model and the bigram LM are fitted on the corpus and persisted as
    sidecars, the CCNet/GPT-3 recipe."""
    from .operators import classifier, sketch, textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 83 == 0)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    feats_raw = classifier.quality_features(docs, label=F.length("text") >= 400)
    stats = classifier.feature_stats(feats_raw)
    feats = classifier.standardize(feats_raw, stats=stats).persist()
    w = classifier.logreg_fit(feats, iters=6, lr=2.0)
    feats.unpersist()
    uc, ctx, bc, meta = textops.fit_bigram_lm(docs)
    with _scratch(spark, "curation_full") as base:
        lmdir = f"{base}/lm"
        model_path = f"{base}/quality_model.json"
        classifier.save_model(model_path, w, stats)
        textops.write_bigram_lm(lmdir, uc, ctx, bc, meta)
        bloom_path = f"{base}/bench_bloom"
        sketch.write_bloom(
            textops.exploded_ngrams(bench, n=3).select("g").distinct(),
            bloom_path, key="g", m_bits=131072, k=3,
        )
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur",
            threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            quality_model_path=model_path, quality_threshold=0.5,
            perplexity_lm_path=lmdir, perplexity_max_xent=3.44,
            contamination_bloom_path=bloom_path,
            contamination_max_fraction=0.1,
            length_band=(0.05, 0.95), length_band_min_docs=30,
        )
        _thirds(cur, corpus)
        return _held(cur.accepted(), "doc_id long")


@register(
    "pipeline_full_stack_url",
    oracle=_full_stack_curation_oracle(url_screen=True),
)
def pipeline_full_stack_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-stack curator loop with the URL blocklist pre-screen
    FIRST (round 10 — r9 verdict #3): crawl-metadata verdict → quality
    → perplexity → Bloom decontamination → adaptive length band →
    incremental capped-Jaccard dedup, all six screens in the
    production order. ``pipeline_streaming_url_screen`` pinned the
    URL screen pairwise (URL → dedup); this entry pins its ORDERING
    INTERACTIONS through the whole stack: a URL-rejected doc never
    seeds the HDR length tier or the gram index, so the stage-k band
    cutoffs and dedup candidacies are computed over a DIFFERENT
    survivor set than ``pipeline_streaming_full_stack``'s — the
    accepted sets measurably diverge beyond the URL-rejected docs
    themselves (non-vacuity pinned in test_oracle_parity.py). The
    quality model / bigram LM / Bloom artifact stay corpus-fitted
    sidecars (fitted BEFORE the curator sees any batch — the CCNet
    recipe), exactly as in the non-URL entry."""
    from .operators import classifier, sketch, textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", _url_plant_col().alias("url")
    )
    bench = docs.filter(F.col("doc_id") % 83 == 0)
    corpus = docs.filter(F.col("doc_id") % 83 != 0)
    feats_raw = classifier.quality_features(docs, label=F.length("text") >= 400)
    stats = classifier.feature_stats(feats_raw)
    feats = classifier.standardize(feats_raw, stats=stats).persist()
    w = classifier.logreg_fit(feats, iters=6, lr=2.0)
    feats.unpersist()
    uc, ctx, bc, meta = textops.fit_bigram_lm(docs)
    with _scratch(spark, "curation_fsu") as base:
        lmdir = f"{base}/lm"
        model_path = f"{base}/quality_model.json"
        classifier.save_model(model_path, w, stats)
        textops.write_bigram_lm(lmdir, uc, ctx, bc, meta)
        bloom_path = f"{base}/bench_bloom"
        sketch.write_bloom(
            textops.exploded_ngrams(bench, n=3).select("g").distinct(),
            bloom_path, key="g", m_bits=131072, k=3,
        )
        cur = StreamingCorpusCurator(
            spark, f"{base}/cur",
            threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            url_col="url", url_blocked_domains=_URL_BLOCKED_DOMAINS,
            quality_model_path=model_path, quality_threshold=0.5,
            perplexity_lm_path=lmdir, perplexity_max_xent=3.44,
            contamination_bloom_path=bloom_path,
            contamination_max_fraction=0.1,
            length_band=(0.05, 0.95), length_band_min_docs=30,
        )
        _thirds(cur, corpus)
        return _held(cur.accepted(), "doc_id long")


def _simhash_curation_oracle(radius: int = 3) -> str:
    """Unrolled twin of the SIMHASH curator screen's greedy fold
    (round 8): signatures are a pure function of the text (the md5_60
    vote chain, computed ONCE — unlike the capped-Jaccard stages, no
    per-stage recount exists), so each stage is just the hamming-≤
    radius pair set over accepted ∪ batch plus the first-writer-wins
    edge rule. Candidate mechanics (rotation tables) don't appear:
    the screen's coverage is pigeonhole-exact, so its pair set IS the
    brute-force pair set (the law test), which is what the oracle
    states."""
    stage = """p{k} AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {radius}
        AND (a.doc_id IN (SELECT doc_id FROM a{prev}) OR a.doc_id % 3 = {k})
        AND (b.doc_id IN (SELECT doc_id FROM a{prev}) OR b.doc_id % 3 = {k})
    ), rej{k} AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT CASE
          WHEN id_a % 3 = {k} AND id_b % 3 = {k} THEN id_b
          WHEN id_a % 3 = {k} THEN id_a
          WHEN id_b % 3 = {k} THEN id_b
        END AS d FROM p{k}
      ) WHERE d IS NOT NULL
    ), a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{prev}
      UNION ALL
      SELECT doc_id FROM documents
      WHERE doc_id % 3 = {k}
        AND doc_id NOT IN (SELECT doc_id FROM rej{k})
    )"""
    stages = ",\n    ".join(
        stage.format(k=k, prev="_empty" if k == 0 else k - 1, radius=radius)
        for k in (0, 1, 2)
    )
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), th AS MATERIALIZED (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok || ':sh'), 1, 15))
                  AS UBIGINT) AS BIGINT) AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b, sum(2 * ((h >> b) & 1) - 1) AS s
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS b)
      GROUP BY doc_id, b
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id
    ), a_empty AS (
      SELECT doc_id FROM documents WHERE 1 = 0
    ), {stages}
    SELECT doc_id FROM a2
    """


@register("pipeline_streaming_simhash", oracle=_simhash_curation_oracle())
def pipeline_streaming_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming curation on the SIMHASH screen (round 8 —
    the curator's fourth screen, and its cheapest: 8 bytes/doc of
    state, one signature kernel per batch, Manku rotation keys derived
    in-scan): three doc_id%3 micro-batches through the REAL
    ``StreamingCorpusCurator(screen="simhash", sh_hash_fn="md5_60")``,
    greedy first-writer-wins at hamming ≤ 3, idempotent per-batch
    commits — hash-checked against the unrolled fold over the
    bit-exact DuckDB signature chain. Where the jaccard oracle must
    recount its stop-shingle cap per stage, signatures are a pure
    function of the text, so acceptance history affects only pair
    MEMBERSHIP — the structural reason this screen is the cheap
    one."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch(spark, "curation_sh") as base:
        cur = StreamingCorpusCurator(
            spark, base, screen="simhash", max_hamming=3, sh_hash_fn="md5_60"
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


@register(
    "pipeline_html_curation",
    oracle=(lambda: "\n    WITH planted AS (\n"
            f"      SELECT doc_id, {_HTML_PAGE_SQL} AS html FROM documents\n"
            "    ), kept AS MATERIALIZED (\n"
            f"      SELECT doc_id, {oracle_html_main_content_sql('html', min_stopword_ratio=0.04)} AS text\n"
            "      FROM planted\n"
            "    ), "
            + _greedy_curation_stages("kept"))(),
)
def pipeline_html_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ingest user story under ONE hash (round 8): raw HTML
    pages (each doc's text planted as prose inside nav/footer chrome)
    → jusText-style main-content extraction → three micro-batches
    through the REAL curator's capped-Jaccard greedy fold. The
    composition is load-bearing, not decorative: WITHOUT the
    main-content screen, the chrome blocks shared by every page would
    flood the shingle space (capped away as stop-shingles, but the
    cap itself would be doing the extractor's job); with it, the fold
    runs on clean prose and its decisions equal the oracle's unrolled
    extract-then-fold statement."""
    from .operators import textops
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents")
    extracted = docs.select(
        "doc_id",
        textops.html_main_content(
            _html_page_col(), min_stopword_ratio=0.04
        ).alias("text"),
    )
    with _scratch(spark, "htmlcur_q") as base:
        cur = StreamingCorpusCurator(
            spark, base, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF
        )
        _thirds(cur, extracted)
        return _held(cur.accepted(), "doc_id long")


@register("pipeline_streaming_length_band", oracle=_length_band_curation_oracle())
def pipeline_streaming_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END adaptive-length-band streaming curation (round 7,
    closing the loop on the HDR monitor tier): the documents table
    arrives as three doc_id%3 micro-batches through the REAL
    StreamingCorpusCurator with ``length_band=(0.05, 0.95)`` — each
    batch's token-count cutoffs are read from the maintained HDR tier
    over the corpus accepted SO FAR (inert until 30 accepted docs),
    then the survivors run the incremental capped-Jaccard screen. The
    oracle replays the whole closed loop — HDR bucketing, ceil-rank
    quantiles, warmup OR-branch, per-stage screen, greedy fold — so
    the hash pins the feedback path: what stage k accepts moves stage
    k+1's cutoffs."""
    from .streaming.curator import StreamingCorpusCurator

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    with _scratch(spark, "curation_len") as base:
        cur = StreamingCorpusCurator(
            spark, base, threshold=0.8, max_shingle_freq=_NGRAM_MAX_DF,
            length_band=(0.05, 0.95), length_band_min_docs=30,
        )
        _thirds(cur, docs)
        return _held(cur.accepted(), "doc_id long")


def _pagerank_oracle(iters: int = 3, damping: float = 0.85) -> str:
    """Unrolled-CTE twin of graph.pagerank over the undirected
    customer–supplier co-purchase graph. Contributions are rounded to
    18 then summed as DECIMAL(38,18) (exact, order-independent); each
    iteration's rank rounded to 14. The teleport constant is embedded
    via repr() so both engines divide the IDENTICAL double."""
    base = repr(1.0 - damping)
    blocks = [f"""e0 AS MATERIALIZED (
      SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
                      CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ), ed AS MATERIALIZED (
      SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
    ), deg AS MATERIALIZED (
      SELECT src, count(*) AS outd FROM ed GROUP BY src
    ), n AS (
      SELECT count(*) AS nn FROM deg
    ), p0 AS MATERIALIZED (
      SELECT src AS node, round(1.0 / nn, 14) AS pr, outd
      FROM deg CROSS JOIN n
    )"""]
    for k in range(1, iters + 1):
        blocks.append(f"""c{k} AS MATERIALIZED (
      SELECT ed.dst AS node,
             CAST(SUM(CAST(round(p.pr / p.outd, 18) AS DECIMAL(38,18)))
                  AS DOUBLE) AS mass
      FROM ed JOIN p{k - 1} p ON ed.src = p.node GROUP BY ed.dst
    ), p{k} AS MATERIALIZED (
      SELECT d.src AS node,
             round({base} / n.nn + {damping!r} * coalesce(c.mass, 0.0), 14) AS pr,
             d.outd
      FROM deg d CROSS JOIN n LEFT JOIN c{k} c ON c.node = d.src
    )""")
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"\n    SELECT node, pr AS pagerank FROM p{iters}"
    )


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle(iters=3))
def graph_pagerank_copurchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (Page et al. 1999) over the undirected
    customer–supplier co-purchase graph — the link-centrality signal
    class CommonCrawl publishes per host and CCNet-era pipelines use
    as a document prior. Fully lazy Pregel-as-relational iteration:
    per step ONE edge⋈rank shuffle join + ONE map-side-combined
    aggregation, nothing on the driver; 3 unrolled damped updates
    under the round-then-exact-decimal protocol, so a 1000-executor
    run and the oracle produce identical doubles."""
    from .operators import graph

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # bigint node encoding (customers even, suppliers odd) — integer
    # join keys are the production choice over string-prefixed ids
    e0 = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).cast("bigint").alias("src"),
            (F.col("l_suppkey") * 2 + 1).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    edges = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.pagerank(edges, iters=3, damping=0.85)


# Headline queries timed by bench.py (BENCH_r{N}.json). Keep names
# stable across rounds so timings are comparable — and when a kept
# name's WORKLOAD changes (not just its implementation), record it in
# BENCH_WORKLOAD_NOTES so the cross-round series isn't misread as an
# engine speedup.
BENCH_WORKLOAD_NOTES = {
    "_total_r10": (
        "round 10 adds six entries (80 total): "
        "text_gopher_repetition and pipeline_fineweb_recipe run the "
        "eleven-signal suite through the Arrow Counter kernel "
        "(hash-identical to the sql fold kernel; 10.2 s -> 2.5 s and "
        "13.5 s -> 4.6 s at sf0.1 when it became the default; the "
        "exploded groupBy alternative measured 6x worse than even "
        "the sql folds — see SCALING.md round-10). HOST CAVEAT for the "
        "committed round-10 series: the box ran ~1.7x slower than "
        "during the round-9 series for IDENTICAL code — a mini-bench "
        "of the UNCHANGED r9 commit (git worktree at db0d9ad) on the "
        "same day reproduced q1 1.68 s vs the committed 1.01 s and "
        "dedup_minhash_lsh 3.28 s vs 1.93 s — sustained co-tenant "
        "contention not visible in steal jiffies (1.7%% of capacity). "
        "Round-over-round comparisons should anchor on the "
        "shared-name RATIO DISTRIBUTION (median ~1.3x uniform = "
        "host), not absolute sums"
    ),
    "_total_r8": (
        "round 8 adds dedup_simhash_rotated, text_html_main_content and "
        "crawl_url_screen (67 total): the Manku "
        "multi-rotation radius-6 screen — 28 two-block tables probed vs "
        "the quarter scheme's 4, so it times the table-count-for-"
        "occupancy trade. The other round-8 surfaces are lifecycle "
        "paths (stored IVF-PQ index build/probe, curator retention/"
        "int8-state/full-stack pipelines) whose per-run cost is "
        "dominated by one-time index writes or multi-batch state "
        "machinery — covered by CORRECTNESS + probe rows, not benched"
    ),
    "quality_classifier_scores": (
        "workload changed within round 6: GD iterations 10 -> 6 (measured "
        "identical teacher agreement; at scale each iteration is one "
        "corpus pass) — the first committed BENCH_LATEST entry for this "
        "name timed the 10-iteration form"
    ),
    "dedup_minhash_lsh": (
        "workload changed in round 2: signature geometry 128 hashes/32 "
        "bands -> 64/16 (same recall target at threshold 0.8); r1-vs-r2+ "
        "timings compare different work"
    ),
    "_total": (
        "round 2 added 2 headline entries (20 total) and round 3 adds 7 "
        "more (27 total: asof/pack/contamination/rollup/analytics-suite/"
        "pii/incremental-minhash), so cross-round TOTALS compare "
        "different workloads — compare per-query series instead"
    ),
    "dedup_incremental_minhash": (
        "builds the corpus index INLINE (the declared query's contract); "
        "the operational batch-vs-stored-index screen is ~2s at sf0.1 "
        "(ROADMAP round-3 probes)"
    ),
    "_total_r4": (
        "round 4 adds dedup_embedding_lsh (28 total) — the hyperplane-"
        "LSH blocked near-dup path, i.e. the plan that exists at 100 TB; "
        "dedup_embedding_cosine stays for series continuity but times "
        "the driver-collect ground-truth baseline"
    ),
    "_total_r5": (
        "round 5 adds fold_scale_replay_xl (29 total): same fold "
        "pipeline at 384k events (4x) so the events/s metric clears the "
        "~0.2s per-stage floor that caps the legacy 96k entry at ~480k "
        "ev/s regardless of kernel speed; fold_scale_replay stays for "
        "series continuity"
    ),
    "_total_r5b": (
        "round 5 (continued) adds cluster_kmeans_assign and "
        "dedup_semantic (31 total): the distributed-Lloyd's / SemDeDup "
        "clustering family over the embeddings table"
    ),
    "_total_r7": (
        "round 7 adds text_excise_min_span (the Lee-et-al. min-span "
        "excision), dsir_hashed_topk (hashed-n-gram DSIR), and "
        "dedup_embedding_lsh_auto (auto-geometry sizing as the benched "
        "path) — 40 total"
    ),
    "_total_r7b": (
        "round 7 (continued) adds sketch_cms_heavy_hitters (count-min "
        "heavy hitters), sim_quantized_topk (int8-quantized cosine "
        "top-k), and sim_multiprobe_topk_clustered (Hamming-1 "
        "multi-probe LSH, 6 tables) — 43 total"
    ),
    "_total_r7c": (
        "round 7 (continued) adds sketch_hll_distinct (HyperLogLog "
        "per-group cardinality) and text_bloom_contamination (Bloom-"
        "filter decontamination screen) — 45 total; the sketch family "
        "is now CMS (frequency) + HLL (cardinality) + Bloom "
        "(membership)"
    ),
    "_total_r7d": (
        "round 7 (continued) adds text_bpe_merges (distributed BPE "
        "tokenizer training, 10 merges learned from one corpus scan) and "
        "text_bigram_perplexity (CCNet-style self-trained bigram-LM "
        "cross-entropy filter, single-scan plan) and sim_hybrid_rrf_topk "
        "(reciprocal-rank fusion of BM25 + dense cosine) — 48 total; plus "
        "sim_pq_rerank_topk (product-quantization ADC shortlist + exact "
        "re-rank, the 32x-compression ANN rung) and graph_pagerank_copurchase "
        "(distributed PageRank, 3 damped iterations over the 1.2M-edge "
        "co-purchase graph) and sim_ivf_pq_topk (the FAISS-style IVF-PQ "
        "composed index, hash-exact) — 51 total"
    ),
    "_total_r7e": (
        "round 7 (final) adds text_kn_perplexity (Kneser-Ney bigram LM, "
        "KenLM-fidelity smoothing), sketch_hll_overlap (HLL set algebra "
        "— cross-domain bigram-vocabulary Jaccard), layout_zorder_slices "
        "(Morton-code clustering audit) and dedup_simhash_checked "
        "(portable-hash SimHash through the same vote kernel) — 57 total; "
        "plus text_pmi_collocations, sim_hard_negatives (ANCE mining), "
        "sim_jl_projection (64->16 Rademacher compression), "
        "dedup_survivors_quality (CC + windowed argmax retention) and "
        "sketch_hdr_token_mass (weighted quantiles) — 62 total; plus "
        "dedup_incremental_simhash (stored 8-byte/doc signature index "
        "probe) and audit_dup_rate_by_source (per-source redundancy "
        "scoreboard) — 64 total"
    ),
    "dedup_ngram_jaccard_r7": (
        "round 7 (final): the inverted-index gram table gained the "
        "shared doc_id exchange (5 consumers, AQE stage reuse) — expect "
        "~2.8 s -> ~2.0 s at sf0.1; dedup_ngram_containment steps down "
        "similarly; results identical (hash-checked)"
    ),
    "text_bloom_contamination_r7": (
        "round 7 (final): the gram table gained the shared doc_id "
        "exchange (four consumers, AQE stage reuse) — expect ~2.2 s -> "
        "~1.4 s at sf0.1; results identical (hash-checked)"
    ),
    "text_excise_family_r7": (
        "round 7 (final): duplicate_spans materializes its positional "
        "gram table at one doc_id exchange (AQE stage reuse) — expect "
        "text_excise_min_span ~2.9 s -> ~1.5 s and "
        "text_excise_duplicate_spans ~1.4 s -> ~1.2 s at sf0.1; results "
        "identical (hash-checked)"
    ),
    "text_line_dedup_r7": (
        "round 7 (final): line-splitting materialized at one _id "
        "exchange (AQE stage reuse across the three consumers) — expect "
        "~3.2 s -> ~1.8 s at sf0.1; results identical (hash-checked)"
    ),
    "dsir_hashed_topk_r7": (
        "round 7 (final): the hashed-token table gained the bm25-style "
        "shared doc_id exchange (ReusedExchange => tokenize+bigram+md5 "
        "runs once, not once per consumer branch) — expect a ~3.3 s -> "
        "~2 s step down at sf0.1; results identical (hash-checked)"
    ),
    "dedup_incremental_minhash_r7": (
        "round 7: the declared inline-build query switched to the "
        "one-pass union-signing mode (identical results, pinned by "
        "tests) — the r7+ series times one signature kernel pass where "
        "r3-r6 timed two; expect a ~0.7-1.0s step down at sf0.1"
    ),
}

BENCH_QUERIES = [
    "a1_scoreboard_kills",
    "a3_latest_per_key",
    "a4_global_scoreboard",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_orders",
    "t8_tumbling_window",
    "w3_order_rank_per_customer",
    "sessionize_events",
    "game_a1_room_scoreboard",
    "fold_state_summary",
    "fold_scale_replay",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_bruteforce_topk",
    "text_tfidf_top_terms",
    # added round 2 (new names append; prior names stay comparable)
    "dedup_embedding_cosine",
    "q9ish_product_profit",
    # added round 3
    "asof_latest_order",
    "pack_training_sequences",
    "text_benchmark_contamination",
    "time_rollup_multires",
    "w_analytics_suite",
    "text_pii_redaction",
    "dedup_incremental_minhash",
    # added round 4
    "dedup_embedding_lsh",
    # added round 5
    "fold_scale_replay_xl",
    "cluster_kmeans_assign",
    "dedup_semantic",
    # added round 6
    "text_bm25_topk",
    "quality_classifier_scores",
    "dsir_importance_topk",
    "sim_embedding_drift",
    "audit_dataset_fingerprint",
    "text_excise_duplicate_spans",
    # added round 7
    "text_excise_min_span",
    "dsir_hashed_topk",
    "dedup_embedding_lsh_auto",
    "sketch_cms_heavy_hitters",
    "sim_quantized_topk",
    "sim_multiprobe_topk_clustered",
    "sketch_hll_distinct",
    "text_bloom_contamination",
    # added round 7 (continued)
    "text_bpe_merges",
    "text_bigram_perplexity",
    "sim_hybrid_rrf_topk",
    "sim_pq_rerank_topk",
    "graph_pagerank_copurchase",
    "sim_ivf_pq_topk",
    "text_line_dedup",
    "sketch_hdr_quantiles",
    # added round 7 (final)
    "text_kn_perplexity",
    "sketch_hll_overlap",
    "layout_zorder_slices",
    "dedup_simhash_checked",
    "text_pmi_collocations",
    "sim_hard_negatives",
    "sim_jl_projection",
    "dedup_survivors_quality",
    "sketch_hdr_token_mass",
    "dedup_incremental_simhash",
    "audit_dup_rate_by_source",
    # added round 8
    "dedup_simhash_rotated",
    "text_html_main_content",
    "crawl_url_screen",
    # added round 9
    "mix_doremi_weights",
    "text_unigram_pieces",
    "text_unigram_encode",
    "text_c4_line_filters",
    "audit_corpus_datacard",
    "mix_doremi_sample",
    "text_kn3_perplexity",
    # added round 10
    "text_gopher_repetition",
    "dedup_exact_substring",
    "sketch_topk_ngrams",
    "cluster_kcenter_seeds",
    "sim_opq_adc_topk",
    "pipeline_fineweb_recipe",
    # added round 11
    "text_excise_winnowed",
    "text_unigram_encode_bytes",
    # added round 12
    "pipeline_fineweb_full",
]


# Driver-sweep rotation. The external driver records correctness rows
# for (at most) the FIRST 50 names queries() yields, so each round
# lists first the queries whose last driver row is OLDEST — new ones
# from this round, then everything absent from the latest
# CORRECTNESS_r{N}.json (those were verified against a prior round's
# code). Every query passes the identical local DuckDB comparison
# (tests/test_oracle_parity.py) regardless of rotation position.
_DRIVER_PRIORITY = [
    # pins first (changed code needing driver-side verification),
    # then never-driver-sampled names, then every previously-sampled
    # name stalest-first by last CORRECTNESS_r0N appearance; no
    # rows-only name in the first 50 (gen_driver_priority.py)
    "sim_ivf_pq_stored",  # pinned
    "sim_opq_stored",  # pinned
    "chg_s6_tableview",  # pinned
    "stream_s6_tableview",  # pinned
    "chg_a4_global_sum",  # pinned
    "chg_w2_lru_top5",  # pinned
    "fold_scale_replay",  # pinned
    "fold_scale_replay_xl",  # pinned
    "cube_event_stats",  # r8
    "date_parts_orders",  # r8
    "dedup_embedding_cosine",  # r8
    "dedup_embedding_lsh_auto_clustered",  # r8
    "game_kd_ratio",  # r8
    "game_movement_heatmap",  # r8
    "grouping_sets_lineitem",  # r8
    "intersect_trading_nations",  # r8
    "join_full_outer_nation_presence",  # r8
    "join_left_outer_order_counts",  # r8
    "median_value_per_type",  # r8
    "mix_language_unimax",  # r8
    "mix_unimax_epochs",  # r8
    "pipeline_embedding_curation_int8",  # r8
    "pipeline_embedding_retention",  # r8
    "pipeline_html_curation",  # r8
    "pipeline_streaming_full_stack",  # r8
    "pipeline_streaming_retention",  # r8
    "pipeline_streaming_simhash",  # r8
    "pivot_event_counts",  # r8
    "q10_returned_items",  # r8
    "q14_promo_effect",  # r8
    "q18_large_orders",  # r8
    "q2ish_min_cost_supplier",  # r8
    "q4_order_priority",  # r8
    "q6_revenue_forecast",  # r8
    "rollup_order_stats",  # r8
    "semi_customers_with_orders",  # r8
    "sessionize_events",  # r8
    "text_html_extract",  # r8
    "text_token_counts",  # r8
    "theta_price_band_join",  # r8
    "union_event_sources",  # r8
    "x_map_functions",  # r8
    "approx_stats_bounded",  # r9
    "audit_corpus_datacard",  # r9
    "cluster_representatives",  # r9
    "dedup_embedding_lsh_clustered",  # r9
    "dedup_incremental_embedding",  # r9
    "dedup_minhash_identical",  # r9
    "dedup_semantic",  # r9
    "export_shuffle_shards",  # r9
    "dedup_clusters",  # r8
    "dedup_embedding_lsh",  # r8
    "sim_ivf_topk",  # r8
    "game_a1_room_scoreboard",  # r9
    "game_a4a5_global_rank",  # r9
    "game_bomb_effectiveness",  # r9
    "game_p4_position_history",  # r9
    "game_room_activity_windows",  # r9
    "game_s4_latest_event_per_room",  # r9
    "game_survival_first_life",  # r9
    "game_x3_obstacle_decode",  # r9
    "j2_kill_attribution",  # r9
    "j_customers_without_orders",  # r9
    "j_parts_never_shipped",  # r9
    "knn_label_vote",  # r9
    "pipeline_curate_training_data",  # r9
    "pipeline_curation_compacted",  # r9
    "pipeline_embedding_curation",  # r9
    "pipeline_embedding_curation_pq",  # r9
    "pipeline_streaming_curation",  # r9
    "pipeline_streaming_url_screen",  # r9
    "q11ish_important_parts",  # r9
    "q12ish_priority_shipping",  # r9
    "q13_customer_order_distribution",  # r9
    "q15ish_top_supplier",  # r9
    "q16ish_supplier_part_counts",  # r9
    "q17_small_quantity_revenue",  # r9
    "q19ish_disjunctive_predicates",  # r9
    "q20ish_excess_suppliers",  # r9
    "q21ish_sole_supplier_orders",  # r9
    "q22ish_idle_customers",  # r9
    "q7_volume_shipping",  # r9
    "text_duplicate_spans",  # r9
    "a1_scoreboard_kills",  # r10
    "a3_latest_per_key",  # r10
    "a4_global_scoreboard",  # r10
    "a5_ranked_scoreboard",  # r10
    "asof_latest_order",  # r10
    "audit_dataset_fingerprint",  # r10
    "chunk_doc_spans",  # r10
    "dedup_exact",  # r10
    "dedup_incremental_jaccard",  # r10
    "dedup_incremental_minhash",  # r10
    "dedup_incremental_minhash_identical",  # r10
    "dedup_minhash_lsh",  # r10
    "dedup_simhash",  # r10
    "domain_topk_docs",  # r10
    "fold_players_state",  # r10
    "fold_pos_players",  # r10
    "fold_state_summary",  # r10
    "fold_time_travel",  # r10
    "mix_domain_weighted_sample",  # r10
    "multimodal_features",  # r10
    "multimodal_features_checked",  # r10
    "pack_training_sequences",  # r10
    "pipeline_full_stack_url",  # r10
    "pipeline_perplexity_kn3",  # r10
    "pipeline_streaming_doremi",  # r10
    "pipeline_streaming_funnel",  # r10
    "q8ish_market_share",  # r10
    "q9ish_product_profit",  # r10
    "quota_token_budget",  # r10
    "sim_ivf_topk_clustered",  # r10
    "sim_lsh_topk_clustered",  # r10
    "stream_a1_scoreboard",  # r10
    "text_kn3_stored",  # r10
    "text_vocab_coverage",  # r10
    "x16_json_extract",  # r10
    "x_array_functions",  # r10
    "audit_snapshot_diff",  # r11
    "crawl_url_screen",  # r11
    "dedup_embedding_lsh_auto",  # r11
    "export_curriculum_shards",  # r11
    "fold_snapshot_maintained",  # r11
    "pipeline_streaming_fineweb",  # r11
    "pipeline_streaming_repetition",  # r11
    "profile_lineitem_stats",  # r11
    "quality_outlier_mad",  # r11
    "sim_bruteforce_topk",  # r11
    "sim_embedding_drift",  # r11
    "sim_jvm_cosine_topk",  # r11
    "sim_lsh_topk",  # r11
    "split_train_val_test",  # r11
    "stream_dedup_exact",  # r11
    "stream_t8_windowed",  # r11
    "t8b_sliding_window",  # r11
    "text_benchmark_contamination",  # r11
    "text_bm25_topk",  # r11
    "text_boilerplate_coverage",  # r11
    "text_gopher_quality",  # r11
    "text_lang_id",  # r11
    "text_pii_redaction",  # r11
    "text_repetition_signals",  # r11
    "text_stats",  # r11
    "text_tfidf_top_terms",  # r11
    "time_rollup_multires",  # r11
    "w2_recency_top5",  # r11
    "w_analytics_suite",  # r11
    "audit_fineweb_full_datacard",  # r12
    "audit_winnowed_density",  # r12
    "layout_zorder_slices",  # r12
    "mix_domain_temperature",  # r12
    "pipeline_incremental_line_dedup",  # r12
    "pipeline_incremental_substr_dedup",  # r12
    "pipeline_streaming_decontamination",  # r12
    "pipeline_streaming_fineweb_full",  # r12
    "pipeline_streaming_length_band",  # r12
    "pipeline_streaming_perplexity",  # r12
    "pipeline_streaming_quality",  # r12
    "pipeline_streaming_substr",  # r12
    "q1_pricing_summary",  # r12
    "q3_shipping_priority",  # r12
    "q5_local_supplier_volume",  # r12
    "quality_outlier_hdr",  # r12
    "quality_outlier_mad_continuous",  # r12
    "s4_latest_message",  # r12
    "sim_hard_negatives",  # r12
    "sim_hybrid_rrf_topk",  # r12
    "sim_jl_projection",  # r12
    "sim_multiprobe_topk_clustered",  # r12
    "sim_pq_adc_topk",  # r12
    "sim_pq_rerank_topk",  # r12
    "sim_quantized_topk",  # r12
    "sketch_hdr_drift",  # r12
    "sketch_hdr_quantiles",  # r12
    "sketch_hdr_token_mass",  # r12
    "sketch_hll_overlap",  # r12
    "t8_tumbling_window",  # r12
    "text_c4_line_filters",  # r12
    "text_pmi_collocations",  # r12
    "text_rolling_fingerprints",  # r12
    "w3_order_rank_per_customer",  # r12
    "approx_stats",  # r13
    "audit_dup_rate_by_source",  # r13
    "cluster_kcenter_seeds",  # r13
    "cluster_kmeans_assign",  # r13
    "count_distinct_parts_per_supplier",  # r13
    "crawl_triage_csv",  # r13
    "crawl_triage_jsonl",  # r13
    "dedup_clusters_exact",  # r13
    "dedup_exact_substring",  # r13
    "dedup_incremental_simhash",  # r13
    "dedup_ngram_containment",  # r13
    "dedup_ngram_jaccard",  # r13
    "dedup_simhash_checked",  # r13
    "dedup_simhash_rotated",  # r13
    "dedup_survivors",  # r13
    "dedup_survivors_quality",  # r13
    "dsir_hashed_topk",  # r13
    "dsir_importance_topk",  # r13
    "graph_pagerank_copurchase",  # r13
    "mix_doremi_sample",  # r13
    "mix_doremi_weights",  # r13
    "pipeline_fineweb_full",  # r13
    "pipeline_fineweb_recipe",  # r13
    "pipeline_quality_dedup",  # r13
    "quality_classifier_scores",  # r13
    "quality_perplexity_band",  # r13
    "sim_ivf_pq_topk",  # r13
    "sim_opq_adc_topk",  # r13
    "sketch_cms_heavy_hitters",  # r13
    "sketch_hll_distinct",  # r13
    "sketch_topk_ngrams",  # r13
    "split_leakage_safe",  # r13
    "text_bigram_perplexity",  # r13
    "text_bloom_contamination",  # r13
    "text_bpe_encode",  # r13
    "text_bpe_merges",  # r13
    "text_excise_duplicate_spans",  # r13
    "text_excise_min_span",  # r13
    "text_excise_winnowed",  # r13
    "text_gopher_repetition",  # r13
    "text_html_main_content",  # r13
    "text_kn3_perplexity",  # r13
    "text_kn_perplexity",  # r13
    "text_line_dedup",  # r13
    "text_unigram_encode",  # r13
    "text_unigram_encode_bytes",  # r13
    "text_unigram_logprob",  # r13
    "text_unigram_pieces",  # r13
    "text_wordpiece_merges",  # r13
]


def _ordered_names() -> list[str]:
    prio = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in set(prio)]
    return prio + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


def register_query_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Expose declared queries as TEMP VIEWS so a SQL-only user can
    ``spark.sql("SELECT * FROM game_a1_room_scoreboard")`` or join
    query results against each other — the catalog surface on top of
    the DataFrame registry. Views are lazy plans: nothing executes at
    registration for the declarative queries; names whose builders run
    eager steps (classifier/k-means fits, curation pipelines) pay that
    setup when REGISTERED, so pass an explicit ``names`` list when you
    only need the analytic subset. Returns the registered names."""
    chosen = list(REGISTRY) if names is None else names
    for name in chosen:
        REGISTRY[name].fn(spark, sf_dir).createOrReplaceTempView(name)
    return chosen
