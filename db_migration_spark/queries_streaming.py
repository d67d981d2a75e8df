"""Declared queries that run the ACTUAL Structured Streaming engine under
the exact oracle gate.

The batch twins (events_hourly_rollup, user_profiles, …) pin the target
semantics; these entries execute the streaming plans themselves —
file-source stream → watermark → stateful operator → availableNow drain
into a memory sink — and return the drained result as a batch DataFrame,
so the driver's DuckDB comparison hashes what the STREAMING engine
produced.  pytest covers incremental/multi-batch behavior (resume,
late-data, redelivery); here the whole input arrives within one
availableNow run, which is exactly when streaming output must equal the
batch/SQL answer.

Memory-sink names are derived from the sf_dir so repeated runs in one
session overwrite rather than collide.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .queries_shared import build_once, drain
from .streaming import import_stream as ST


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the batch loader's
    normalized schema (ts already local-tz TIMESTAMP)."""
    import os

    batch = load_table(spark, sf_dir, "events")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # multi-file table directory (e.g. the scale harness layout):
        # the directory IS the stream source
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # single-file fixture: file-source streams take a DIRECTORY;
        # select the one table file with a glob filter instead of copying
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # apply the same ts normalization load_table performs
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    assert dict(batch.dtypes)["ts"] == "timestamp"
    return stream


def _drain(df: DataFrame, name: str, mode: str) -> None:
    drain(
        df.writeStream.format("memory").queryName(name).outputMode(mode),
        300,
    )


def _sink_name(prefix: str, sf_dir: str) -> str:
    return prefix + "_" + re.sub(r"[^A-Za-z0-9]", "_", sf_dir)


def q_stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming windowed aggregate itself (import_stream.py
    windowed_event_rollup): tumbling 1 h windows with a 2 h watermark,
    drained availableNow — output must equal the batch
    events_hourly_rollup, and the oracle is the same SQL."""
    name = _sink_name("stream_rollup", sf_dir)
    rolled = ST.windowed_event_rollup(_events_stream(spark, sf_dir))
    _drain(rolled, name, "complete")
    return spark.table(name)


ORACLE_STREAM_ROLLUP = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest-dedup operator itself (import_stream.py
    stream_dedup — dropDuplicatesWithinWatermark): distinct (user_id,
    event_type) keys surviving the watermarked dedup.  WHICH duplicate
    survives is arrival-order-dependent, so the declared result carries
    the keys only — deterministic — and the oracle is a plain DISTINCT.

    The drained sink must ALREADY be duplicate-free: one row per key is
    exactly what dropDuplicatesWithinWatermark owes us under a single
    availableNow drain.  Asserting rows == distinct keys (instead of the
    old normalize-with-.distinct()) makes state leakage — a key emitted
    twice — fail the gate instead of being silently collapsed."""
    name = _sink_name("stream_dedup", sf_dir)
    deduped = ST.stream_dedup(
        _events_stream(spark, sf_dir),
        ["user_id", "event_type"],
        ts_col="ts",
        delay="2 hours",
    ).select("user_id", "event_type")
    _drain(deduped, name, "append")
    sink = spark.table(name)
    n_rows = sink.count()
    n_keys = sink.distinct().count()
    if n_rows != n_keys:
        raise AssertionError(
            f"stream_dedup leaked duplicate keys: {n_rows} rows for "
            f"{n_keys} distinct keys"
        )
    return sink


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_ace_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X1 ingest itself as a STREAMING query (SURVEY §2.10: the datom
    log doubles as a streaming source): the gzipped ``.ace`` dump dir is
    read as a streaming blank-line block source, melted to datoms by the
    real mapInPandas parser (a stateless streaming map — append mode, no
    watermark needed), drained ``availableNow`` into a memory sink, and
    profiled batch-side per (class, attribute) — value-level counts,
    min/max, curator comments, max tx.  The oracle recomputes the profile
    from the parquet tables, so the gate hashes what the streaming melt
    actually emitted."""
    from .queries_e2e import _ensure_ace_dump
    from .sources.ace import ace_records_to_datoms, parse_ace_blocks_df
    from .sources.ace import read_ace_blocks_stream

    dump = _ensure_ace_dump(spark, sf_dir)
    name = _sink_name("stream_ace", sf_dir)
    datoms = ace_records_to_datoms(
        parse_ace_blocks_df(read_ace_blocks_stream(spark, dump))
    )
    _drain(datoms, name, "append")
    return (
        spark.table(name)
        .groupBy("class", "a")
        .agg(
            F.count(F.lit(1)).alias("n_datoms"),
            F.countDistinct("e").alias("n_entities"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.max("tx").alias("max_tx"),
            F.count("comment").alias("n_comments"),
            F.max("comment").alias("max_comment"),
        )
    )


ORACLE_STREAM_ACE = """
SELECT 'Customer' AS class, 'Customer/Name' AS a,
       count(*) AS n_datoms, count(DISTINCT c_custkey) AS n_entities,
       min(c_name) AS min_v, max(c_name) AS max_v,
       CAST(max(TIMESTAMP '2024-01-01' + (c_custkey % 28) * INTERVAL 1 DAY)
            AS TIMESTAMP) AS max_tx,
       CAST(0 AS BIGINT) AS n_comments, CAST(NULL AS VARCHAR) AS max_comment
FROM customer
UNION ALL
SELECT 'Customer', 'Customer/Address.City',
       count(*), count(DISTINCT c_custkey),
       min('CITY_' || c_nationkey), max('CITY_' || c_nationkey),
       NULL, 0, NULL
FROM customer
UNION ALL
SELECT 'Customer', 'Customer/Acctbal',
       count(*), count(DISTINCT c_custkey),
       min(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)),
       max(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)),
       NULL, 0, NULL
FROM customer
UNION ALL
SELECT 'Customer', 'Customer/Segment',
       count(*), count(DISTINCT c_custkey),
       min(c_mktsegment), max(c_mktsegment), NULL, 0, NULL
FROM customer
UNION ALL
SELECT 'Nation', 'Nation/RegionKey',
       count(*), count(DISTINCT n_name),
       min(CAST(n_regionkey AS VARCHAR)), max(CAST(n_regionkey AS VARCHAR)),
       max(TIMESTAMP '2024-02-01'), count(*), max('curator N' || n_regionkey)
FROM nation
UNION ALL
SELECT 'Region', 'Region/Comment.Note',
       count(*), count(DISTINCT r_name),
       min('area ' || r_regionkey), max('area ' || r_regionkey),
       NULL, 0, NULL
FROM region
"""


def q_stream_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING session-window aggregate itself (import_stream.py
    session_windowed_rollup — merging session state, not a tumbling
    bucketing): 30-min-gap sessions per user, 2 h watermark, drained
    availableNow.  The oracle is the exact gaps-and-islands rewrite
    (same SQL as the batch twin events_sessionize, plus the session-end
    = last+gap column), so the gate hashes what the streaming session
    merge actually produced — boundary semantics included (an event
    exactly ``gap`` after the previous one opens a NEW session)."""
    name = _sink_name("stream_sessions", sf_dir)
    rolled = ST.session_windowed_rollup(_events_stream(spark, sf_dir))
    _drain(rolled, name, "complete")
    return spark.table(name)


ORACLE_STREAM_SESSIONS = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id,
       count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


def _ORACLE_STREAM_CMS() -> str:
    # identical semantics to the batch twin: same cells, same probes
    from .queries_analytics import ORACLE_CMS

    return ORACLE_CMS


def q_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained BY the streaming engine: the
    4×256 integer-hash cell grid (queries_analytics.cms_cell_structs)
    accumulates as a streaming groupBy((row,slot)) count — constant
    state (1024 cells) regardless of stream length, the canonical
    bounded-memory streaming sketch — drained availableNow in complete
    mode.  The probe step (exact top-20 users read off the sketch) runs
    batch-side on the drained cells, and the oracle is the SAME SQL as
    the batch twin heavy_hitters_cms, so the gate hashes what the
    streaming aggregation produced cell-for-cell."""
    from .queries_analytics import cms_cell_structs

    name = _sink_name("stream_cms", sf_dir)
    cells = (
        _events_stream(spark, sf_dir)
        .select(F.explode(cms_cell_structs(F.col("user_id"))).alias("c"))
        .select("c.row", "c.slot")
        .groupBy("row", "slot")
        .count()
        .withColumnRenamed("count", "cell")
    )
    _drain(cells, name, "complete")
    cms = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(cms_cell_structs(F.col("user_id"))).alias("p"),
    ).select("user_id", "exact_n", "p.row", "p.slot")
    return (
        probes.join(F.broadcast(cms), ["row", "slot"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell").alias("cms_est"))
    )


def q_stream_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator itself under the exact gate:
    ``applyInPandasWithState`` maintains per-user integer state (event
    count, Σ floor(value·10⁶), max event id) across micro-batches in
    update mode; the drained sink's FINAL row per user (max n_events —
    the fold is monotone) must equal the batch aggregate bit-for-bit.
    Integer state makes the fold associative, so the result is
    independent of micro-batch boundaries — which is exactly the
    property that lets the oracle be plain GROUP BY SQL.  State
    partitions by user across executors (RocksDB-backed on a cluster);
    each batch shuffles only its own rows.

    NoTimeout is deliberate: processing-time timers schedule an empty
    micro-batch per tick to fire eviction checks, so an availableNow
    drain never terminates (observed: 130+ state versions on a
    one-file source).  The idle-eviction variant lives in
    streaming/stateful.py for long-running deployments; the bounded
    drain under the gate uses timerless total state."""
    from collections.abc import Iterator as _It

    import pandas as _pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_micro", LongType()),
            StructField("max_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("m", LongType()),
        ]
    )

    def fold(
        key: tuple, pdfs: _It[_pd.DataFrame], state: GroupState
    ) -> _It[_pd.DataFrame]:
        (user_id,) = key
        n, s, m = state.get if state.exists else (0, 0, 0)
        import math as _math

        for pdf in pdfs:
            n += len(pdf)
            # floor() per event in int space — matches SQL floor(v*1e6)
            s += int(
                sum(
                    _math.floor(float(v) * 1000000)
                    for v in pdf["value"]
                )
            )
            if len(pdf):
                m = max(m, int(pdf["event_id"].max()))
        state.update((n, s, m))
        yield _pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_micro": [s],
                "max_event_id": [m],
            }
        )

    name = _sink_name("stream_stateful", sf_dir)
    folded = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _drain(folded, name, "update")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("max_event_id")
    )
    return (
        spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", "sum_micro", "max_event_id")
    )


ORACLE_STREAM_STATEFUL = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_micro,
       max(event_id) AS max_event_id
FROM events
GROUP BY user_id
"""


def register(queries: dict, oracles: dict) -> None:
    queries.update(
        {
            "stream_stateful_profile": q_stream_stateful_profile,
            "ace_stream_sink": q_ace_stream_sink,
            "stream_chained_stateful": q_stream_chained_stateful,
            "stream_hourly_rollup": q_stream_hourly_rollup,
            "stream_dedup_keys": q_stream_dedup_keys,
            "stream_stream_join": q_stream_stream_join,
            "stream_ace_import": q_stream_ace_import,
            "stream_session_rollup": q_stream_session_rollup,
            "stream_merge_upsert": q_stream_merge_upsert,
            "stream_cms": q_stream_cms,
            "stream_outer_join": q_stream_outer_join,
            "stream_topk_per_window": q_stream_topk_per_window,
        }
    )
    oracles.update(
        {
            "stream_stateful_profile": ORACLE_STREAM_STATEFUL,
            "ace_stream_sink": ORACLE_ACE_STREAM_SINK,
            "stream_chained_stateful": ORACLE_STREAM_CHAINED,
            "stream_hourly_rollup": ORACLE_STREAM_ROLLUP,
            "stream_dedup_keys": ORACLE_STREAM_DEDUP,
            "stream_stream_join": ORACLE_STREAM_SSJOIN,
            "stream_ace_import": ORACLE_STREAM_ACE,
            "stream_session_rollup": ORACLE_STREAM_SESSIONS,
            "stream_merge_upsert": ORACLE_STREAM_MERGE,
            "stream_cms": _ORACLE_STREAM_CMS(),
            "stream_outer_join": ORACLE_STREAM_LOUTER,
            "stream_topk_per_window": ORACLE_STREAM_TOPK,
        }
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the hardest Structured Streaming
    shape (state on BOTH sides, bounded by watermarks + the time-range
    condition): view events join purchase events of the same user within
    30 minutes; drained availableNow, then counted per user batch-side.
    The oracle is the equivalent relational interval join, so the gate
    hashes what the double-buffered streaming join actually emitted."""
    name = _sink_name("stream_ssjoin", sf_dir)
    ev = _events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("v_user", "v_id", "p_id")
    _drain(joined, name, "append")
    return (
        spark.table(name)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


ORACLE_STREAM_SSJOIN = """
SELECT v.user_id, count(*) AS n_pairs
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
GROUP BY v.user_id
"""


def q_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest INTO the versioned store: the event stream is
    drained availableNow through ``foreachBatch``, each micro-batch
    MERGEd (plans/upsert.merge_upsert — the Delta MERGE INTO analog)
    into a snapshot store seeded with the first quarter of the events.
    Every batch commits a new snapshot version atomically, so a crash
    between batches leaves a consistent store (the checkpointed source
    offset + versioned sink is the exactly-once recipe without a
    transaction log).  The final store is the LWW state per (user,
    event_type); the oracle recomputes it from the full table."""
    import re as _re
    import shutil

    from .plans import snapshots as SNAP
    from .plans.upsert import merge_upsert
    from .queries_e2e import _fx

    root = _fx(sf_dir, "stream_merge_store")
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")

    def to_datoms(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("user_id").alias("e"),
            F.col("event_type").alias("a"),
            F.round(F.col("value")).cast("long").cast("string").alias("v"),
            F.col("event_id").alias("tx"),
            F.lit(True).alias("op"),
        )

    cut = 2000
    SNAP.write_snapshot(to_datoms(ev.filter(F.col("event_id") < cut)), root)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            spark, root, to_datoms(batch_df), partition_col=None,
            label=f"b{batch_id}",
        )

    ckpt = f"/tmp/dbm_spark_ckpt/stream_merge_{_re.sub(r'[^A-Za-z0-9]', '_', sf_dir)}"
    shutil.rmtree(ckpt, ignore_errors=True)
    drain(
        _events_stream(spark, sf_dir)
        .filter(F.col("event_id") >= cut)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt),
        300,
    )
    final = SNAP.read_snapshot(spark, root)
    return (
        final.groupBy("a")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("v").cast("long")).alias("sum_v"),
            F.max("tx").alias("max_tx"),
        )
        .orderBy("a")
    )


ORACLE_STREAM_MERGE = """
WITH latest AS (
  SELECT user_id AS e, event_type AS a,
         CAST(round(value) AS BIGINT) AS v, event_id AS tx,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT a, count(*) AS n_keys, CAST(sum(v) AS BIGINT) AS sum_v, max(tx) AS max_tx
FROM latest WHERE rn = 1
GROUP BY a ORDER BY a
"""


def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the shape where the
    engine must PROVE a view had no purchase before emitting the null
    row: an unmatched left row is held in state until the watermark
    passes its entire join window, then released with nulls.

    The subtlety is final-watermark advancement: each input's watermark
    derives from its OWN max event time, so the newest views can never
    evict themselves (their eviction bound is their own timestamp).  The
    production-correct device is a watermark sentinel: one far-future
    row per side (negative user ids), unioned in as a second file
    stream, pushes both watermarks past every real row's join window in
    the availableNow drain; sentinel rows are dropped after the drain
    (the view sentinel emits exactly one unmatched row, filtered by
    user id; the purchase sentinel matches nothing and — being on the
    non-preserved side — emits nothing).  With eviction total, the
    streaming answer equals the batch LEFT JOIN, which is the oracle."""
    import os

    from .queries_e2e import _fx

    name = _sink_name("stream_louter", sf_dir)
    batch = load_table(spark, sf_dir, "events")
    batch_max = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sent_path = _fx(sf_dir, "stream_louter_sentinel")
    if not os.path.exists(os.path.join(sent_path, "_SUCCESS")):
        sent = spark.createDataFrame(
            [(-1, "view"), (-2, "purchase")], ["user_id", "event_type"]
        ).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(batch_max) + F.expr("INTERVAL 240 HOURS")).alias("ts"),
            F.col("user_id").cast("long"),
            "event_type",
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        sent.coalesce(1).write.mode("overwrite").parquet(sent_path)
    ev = _events_stream(spark, sf_dir)
    sent_stream = spark.readStream.schema(
        spark.read.parquet(sent_path).schema
    ).parquet(sent_path)
    ev = ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).unionByName(sent_stream)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("v_user", "v_id", "p_id")
    _drain(joined, name, "append")
    return (
        spark.table(name)
        .filter(F.col("v_user") >= 0)
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("p_id").alias("n_matched"),
            F.sum(F.col("p_id").isNull().cast("long")).alias("n_unmatched"),
        )
    )


ORACLE_STREAM_LOUTER = """
WITH v AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, count(*) AS n_rows,
       count(p.event_id) AS n_matched,
       CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
FROM v LEFT JOIN p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
GROUP BY v.user_id
"""


def q_stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k: the windowed per-user aggregate runs IN the
    streaming engine (tumbling 6 h windows, complete-mode drain); the
    rank-and-cut is a batch pass over the drained state — the standard
    split, because per-window ranking is not an incremental operator
    (a late row can reorder the whole window; Structured Streaming
    rightly refuses windowed row_number).  Top-3 spenders per window,
    ties broken by user id; the oracle computes the identical window +
    rank relationally.  Value totals cross as integer micro-units."""
    name = _sink_name("stream_topk", sf_dir)
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), F.col("user_id"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000000).cast("long")
            ).alias("value_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    _drain(agg, name, "complete")
    drained = spark.table(name).select(
        F.col("w.start").alias("win_start"),
        "user_id",
        "value_micro",
        "n_events",
    )
    rk = Window.partitionBy("win_start").orderBy(
        F.col("value_micro").desc(), F.col("user_id")
    )
    return (
        drained.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 3)
    )


ORACLE_STREAM_TOPK = """
WITH agg AS (
  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS win_start, user_id,
         CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT win_start, user_id, value_micro, n_events,
         row_number() OVER (PARTITION BY win_start
                            ORDER BY value_micro DESC, user_id) AS rank
  FROM agg
)
SELECT win_start, user_id, value_micro, n_events, rank
FROM ranked WHERE rank <= 3
"""


def q_ace_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.ace`` format plugin as a STREAMING source: the Python
    DataSource's SimpleDataSourceStreamReader tracks a files-consumed
    offset over the dump directory (the ACeDB drop-folder pattern) and
    each micro-batch parses exactly the newly-arrived files.  Drained
    availableNow and profiled identically to ace_datasource_scan, so a
    stream-offset bug — file skipped, file replayed — shifts the counts
    and fails the same oracle the batch entry point uses."""
    from .queries_e2e import _ensure_ace_dump
    from .sources import ace_datasource

    ace_datasource.register(spark)
    dump = _ensure_ace_dump(spark, sf_dir)
    name = _sink_name("stream_ace_ds", sf_dir)
    recs = spark.readStream.format("ace").load(dump)
    _drain(recs, name, "append")
    return (
        spark.table(name)
        .select(
            "class",
            F.element_at("tag_path", 1).alias("tag"),
            "obj_id",
            "value",
            "ts",
            "comment",
        )
        .groupBy("class", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("obj_id").alias("n_objs"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.sum(F.col("ts").isNotNull().cast("long")).alias("n_ts"),
            F.sum(F.col("comment").isNotNull().cast("long")).alias(
                "n_comments"
            ),
        )
    )


def q_ace_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The format plugin as a streaming SINK under the gate: the events
    stream is serialized to ``.ace`` dump files by the plugin's
    DataSourceStreamWriter (micro-batch-id filenames + per-batch
    _SUCCESS markers), read BACK through the same plugin's batch
    reader, and profiled per event type.  The oracle recomputes the
    profile from the live events table, so a serializer escape bug, a
    dropped partition, or a batch collision all shift the counts."""
    import os
    import tempfile

    from .sources import ace_datasource

    ace_datasource.register(spark)
    base = os.path.join(
        tempfile.gettempdir(),
        "dbm_spark_ace_sink_v1",
        os.path.basename(sf_dir.rstrip("/")),
    )
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def build() -> None:
        recs = _events_stream(spark, sf_dir).select(
            F.lit("Event").alias("class"),
            F.concat(F.lit("E"), F.col("event_id")).alias("obj_id"),
            F.array(F.lit("Type")).alias("tag_path"),
            F.col("event_type").alias("value"),
            F.lit(None).cast("string").alias("ts"),
            F.lit(None).cast("string").alias("comment"),
            F.lit("stream").alias("src"),
        )
        drain(
            recs.writeStream.format("ace")
            .option("path", out)
            .option("checkpointLocation", ckpt),
            300,
        )

    build_once(base, build)
    back = spark.read.format("ace").load(out)
    return (
        back.groupBy(F.col("value").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("obj_id").alias("n_objs"),
            F.min("obj_id").alias("min_obj"),
            F.max("obj_id").alias("max_obj"),
        )
    )


ORACLE_ACE_STREAM_SINK = """
SELECT event_type,
       count(*) AS n_records,
       count(DISTINCT 'E' || event_id) AS n_objs,
       min('E' || event_id) AS min_obj,
       max('E' || event_id) AS max_obj
FROM events
GROUP BY event_type
"""


def q_stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in ONE streaming query — the
    shape Structured Streaming only unlocked recently and most engines
    still refuse: watermarked dropDuplicatesWithinWatermark on
    (user_id, event_type, ts) feeds a tumbling-window aggregate, both
    maintaining state in the same micro-batch pipeline.  Drained
    availableNow; the oracle replays DISTINCT-then-GROUP BY, so
    duplicate leakage through the first state or window misassignment
    in the second both shift the counts.  Append mode only emits
    watermark-CLOSED windows, so a far-future sentinel row (the
    stream_outer_join device) forces total eviction and is filtered
    after the drain."""
    import os

    from .queries_e2e import _fx

    batch = load_table(spark, sf_dir, "events")
    batch_max = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sent_path = _fx(sf_dir, "stream_chain_sentinel")
    if not os.path.exists(os.path.join(sent_path, "_SUCCESS")):
        sent = spark.range(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(batch_max) + F.expr("INTERVAL 240 HOURS")).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        sent.coalesce(1).write.mode("overwrite").parquet(sent_path)
    ev = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    sent_stream = spark.readStream.schema(
        spark.read.parquet(sent_path).schema
    ).parquet(sent_path)
    ev = ev.unionByName(sent_stream)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    rolled = (
        deduped.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("hour"), "event_type", "n_events"
        )
    )
    name = _sink_name("stream_chain", sf_dir)
    _drain(rolled, name, "append")
    return spark.table(name).filter(
        F.col("event_type") != "__sentinel__"
    )


ORACLE_STREAM_CHAINED = """
WITH deduped AS (
  SELECT DISTINCT user_id, event_type, ts FROM events
)
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type,
       count(*) AS n_events
FROM deduped
GROUP BY 1, 2
"""
