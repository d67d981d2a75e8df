"""Lakehouse-layer declared queries (round 4): the transaction-log table
format's SCALE features under the exact oracle gate.

The round-3 verdict's missing-item #2 was closed with plans/txlog.py (the
ACID commit protocol); this module exercises the parts of that format
that matter at 100 TB:

* **Zone-map data skipping** — ``txlog_zonemap_scan``: per-file-group
  min/max harvested from parquet footers at commit time prune whole
  groups at PLANNING time.  The declared result carries the
  groups-scanned / groups-total counts as columns, both recomputed by
  the oracle from the live data — a broken zone map (wrong stats, wrong
  intersection logic, or pruning that drops live rows) is a hash red,
  not a silent slow-down.
* **Exactly-once streaming sink** — ``stream_txlog_sink``: Structured
  Streaming ``foreachBatch`` appending into the TxTable with the
  transactional (app, batch) identity, then an adversarial REPLAY of
  batch 0 after the drain.  If idempotence broke, the replay doubles
  batch 0's rows and the oracle (a plain batch aggregate over
  ``events``) goes red.  This is the Delta ``txn`` action pattern: the
  at-least-once micro-batch contract becomes an exactly-once table.
* **OPTIMIZE + Z-ORDER** — ``txlog_optimize_zorder``: compaction that
  rewrites a deliberately scan-hostile layout (4 append groups each
  spanning the whole key domain) into 4 range-owned, Morton-clustered
  groups.  The declared result reads the PRE-optimize version and the
  POST-optimize version and aggregates both — OPTIMIZE must be a
  logical no-op, and the old layout must stay time-travelable.

Late-round additions under the same gate: ``txlog_delete_vectors``
(positional-DV DELETE with CDF row-level deletes),
``txlog_merge_on_read`` (UPDATE + MERGE INTO as one DV+delta commit),
``stream_cdc_upsert`` (exactly-once CDC MERGE from foreachBatch with
adversarial batch replay), ``txlog_incremental_mv`` (delta-only view
refresh whose txn identity is the cursor), and
``txlog_describe_history`` (the audit ledger as a DataFrame).

Reference anchor: the reference's store is Datomic (transactional
appends, pseudoace.py:98-102; backup/restore datomic.py:12-23); these
queries are the Spark-native table-format equivalent of that contract,
plus the file-skipping layer Datomic gets from its covering indexes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators.relational import zorder_key
from .plans.txlog import TxTable
from .queries_e2e import _fx
from .queries_shared import build_once, drain

_EPOCH = "1992-01-01"


# ---------------------------------------------------------------------------
# zone-map data skipping
# ---------------------------------------------------------------------------


def _ensure_zonemap_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """One commit per order YEAR (only years that exist), so each file
    group's ``day`` zone map covers exactly that year — the layout a
    date-partitioned ingest naturally produces.  Rebuilt from scratch if
    a previous build died mid-way."""
    root = _fx(sf_dir, "txlog_zonemap_orders")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.datediff(F.col("o_orderdate"), F.lit(_EPOCH).cast("date"))
            .cast("int")
            .alias("day"),
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderpriority").alias("prio"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        years = sorted(
            r.yr for r in orders.select("yr").distinct().collect()
        )  # driver-tier: ≤7 rows
        for y in years:
            t.commit_append(orders.filter(F.col("yr") == y))

    build_once(root, build)
    return TxTable(root)


def q_txlog_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping (plans/txlog.py ``read_pruned``): a
    one-year ``day``-range predicate over a year-per-group store plans
    only the 1997 group.  ``groups_scanned``/``groups_total`` ride the
    declared result; the oracle recomputes both from ``orders`` (total =
    distinct years, scanned = 1997 exists) — so pruning too little, too
    much, or from wrong stats is a value mismatch, not a perf footnote.

    At 100 TB this is the read path's first line of defense: the driver
    drops whole file groups from the plan before Spark lists a single
    parquet footer; row-group stats + the pushed residual filter handle
    intra-file pruning."""
    import datetime

    t = _ensure_zonemap_store(spark, sf_dir)
    lo = (datetime.date(1997, 1, 1) - datetime.date(1992, 1, 1)).days
    hi = (datetime.date(1997, 12, 31) - datetime.date(1992, 1, 1)).days
    picked, total = t.prune_groups("day", lo=lo, hi=hi)
    return (
        t.read_pruned(spark, "day", lo=lo, hi=hi)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn("groups_scanned", F.lit(len(picked)).cast("long"))
        .withColumn("groups_total", F.lit(total).cast("long"))
    )


ORACLE_ZONEMAP = """
WITH src AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         year(o_orderdate) AS yr
  FROM orders
),
meta AS (
  SELECT count(DISTINCT yr) AS total,
         count(DISTINCT CASE WHEN yr = 1997 THEN yr END) AS scanned
  FROM src
)
SELECT prio, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(meta.scanned AS BIGINT) AS groups_scanned,
       CAST(meta.total AS BIGINT) AS groups_total
FROM src, meta
WHERE yr = 1997
GROUP BY prio, meta.scanned, meta.total
"""


# ---------------------------------------------------------------------------
# exactly-once streaming sink (foreachBatch + txn identity)
# ---------------------------------------------------------------------------


def _ensure_stream_txlog(spark: SparkSession, sf_dir: str) -> TxTable:
    """Drain the events stream through ``foreachBatch`` into a TxTable
    with per-batch transactional identity, then adversarially REPLAY
    batch 0 (the restart/redelivery case).  The replay must be a no-op;
    if it is not, the declared aggregate double-counts and goes red."""
    from .queries_streaming import _events_stream

    root = _fx(sf_dir, "txlog_stream_events")

    def build() -> None:
        t = TxTable(root)
        events = _events_stream(spark, sf_dir).select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )

        def sink(bdf: DataFrame, batch_id: int) -> None:
            TxTable(root).commit_append(bdf, txn=("events_sink", batch_id))

        drain(
            events.writeStream.foreachBatch(sink).option(
                "checkpointLocation", os.path.join(root, "_chk")
            ),
            300,
        )
        # adversarial replay: micro-batch 0 delivered AGAIN after a restart.
        # The (app, batch) identity is already in the log → must be a no-op.
        replay = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .limit(1000)
        )
        before = t.latest_version()
        t.commit_append(replay, txn=("events_sink", 0))
        if t.latest_version() != before:
            raise RuntimeError("replayed batch must not commit")

    build_once(root, build)
    return TxTable(root)


def q_stream_txlog_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once Structured Streaming sink: foreachBatch appends into
    the ACID table with ``txn=(app, batch_id)`` (plans/txlog.py) and a
    post-drain REPLAY of batch 0 proves idempotence — the oracle is the
    plain batch aggregate over ``events``, which only an exactly-once
    table can match.  This is how a 1000-executor streaming ingest keeps
    a 100 TB table consistent across task retries and job restarts."""
    t = _ensure_stream_txlog(spark, sf_dir)
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
            F.sum("cents").alias("sum_cents"),
        )
    )


ORACLE_STREAM_TXLOG = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct_ids,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# OPTIMIZE + Z-ORDER compaction
# ---------------------------------------------------------------------------


def _ensure_optimize_store(spark: SparkSession, sf_dir: str) -> tuple[TxTable, int]:
    """A deliberately scan-hostile layout: 4 appends keyed by
    ``l_orderkey % 4``, so every group spans the full (day, bucket)
    domain — then OPTIMIZE Z-ORDER into 4 range-owned Morton-clustered
    groups.  Returns (table, pre_optimize_version)."""
    root = _fx(sf_dir, "txlog_optimize_lineitem")

    def build() -> None:
        t = TxTable(root)
        li = load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"),
            F.datediff(F.col("l_shipdate"), F.lit(_EPOCH).cast("date"))
            .cast("int")
            .alias("day"),
            (F.col("l_partkey") % 16).cast("int").alias("pbucket"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        for i in range(4):
            t.commit_append(li.filter(F.col("okey") % 4 == i))
        t.optimize(
            spark,
            sort_key=[zorder_key("day", "pbucket", bits=12)],
            target_groups=4,
        )

    build_once(root, build)
    return TxTable(root), 3  # v3: the last append before OPTIMIZE


def q_txlog_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as an ACID commit (plans/txlog.py ``optimize``):
    rewrite-compact the active groups clustered by the Morton key
    (operators/relational.py ``zorder_key``) — the declared result
    aggregates BOTH the pre-optimize snapshot and the post-optimize
    state, so the rewrite must be a bit-level logical no-op AND the old
    layout must remain time-travelable.  The oracle computes the same
    aggregate once per snapshot label from ``lineitem``.

    At 100 TB this is the maintenance job that turns an append-ordered
    ingest into a scan-ordered table: range-partitioned on the z-key so
    each rewritten group owns a disjoint Morton range and both ``day``
    and ``pbucket`` zone maps tighten (test_txlog_lakehouse.py measures
    the group-level pruning win)."""
    t, pre_v = _ensure_optimize_store(spark, sf_dir)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.sum(F.col("day").cast("long") * F.col("pbucket")).alias(
                "sum_daybucket"
            ),
        )

    return agg(t.read(spark, version=pre_v), "pre").unionByName(
        agg(t.read(spark), "post")
    )


ORACLE_OPTIMIZE = """
WITH src AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS day,
         CAST(l_partkey % 16 AS BIGINT) AS pbucket,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
),
one AS (
  SELECT count(*) AS n_rows,
         CAST(sum(cents) AS BIGINT) AS sum_cents,
         CAST(sum(day * pbucket) AS BIGINT) AS sum_daybucket
  FROM src
)
SELECT 'pre' AS snap, n_rows, sum_cents, sum_daybucket FROM one
UNION ALL
SELECT 'post', n_rows, sum_cents, sum_daybucket FROM one
"""


def q_txlog_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (plans/txlog.py ``read_changes``): the rows
    added by commits (2, 5] of the year-per-group store — an
    incremental consumer catching up three commits without re-scanning
    the table.  The oracle reconstructs the version↔year mapping with a
    dense rank over the distinct order years (version v = v-th year in
    sorted order, by construction of the ingest)."""
    t = _ensure_zonemap_store(spark, sf_dir)
    return (
        t.read_changes(spark, from_version=2, to_version=5)
        .groupBy("prio", "_commit_version", "_change_op")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


ORACLE_CDF = """
WITH src AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         year(o_orderdate) AS yr
  FROM orders
),
vmap AS (
  SELECT yr, row_number() OVER (ORDER BY yr) - 1 AS ver
  FROM (SELECT DISTINCT yr FROM src)
)
SELECT s.prio, CAST(v.ver AS BIGINT) AS _commit_version,
       'append' AS _change_op,
       count(*) AS n_orders, CAST(sum(s.cents) AS BIGINT) AS sum_cents
FROM src s JOIN vmap v ON s.yr = v.yr
WHERE v.ver > 2 AND v.ver <= 5
GROUP BY s.prio, v.ver
"""


def q_txlog_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACID table as a STREAMING SOURCE (sources/txlog_datasource.py
    — Spark 4 Python DataSource API, partition-planned variant):
    offsets are commit versions, planning reads only the LOG, each
    parquet file of each new append commit becomes an executor-side
    input partition.  Drained availableNow over the 7-commit store; the
    per-(prio, version) aggregate proves every commit arrived exactly
    once with its version tag — the Delta-streaming-source contract
    under the exact gate."""
    from .sources import txlog_datasource

    t = _ensure_zonemap_store(spark, sf_dir)
    txlog_datasource.register(spark)
    import re as _re

    name = "txlog_stream_" + _re.sub(r"[^A-Za-z0-9]", "_", sf_dir)
    drain(
        spark.readStream.format("txlog")
        .option("path", t.root)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append"),
        300,
    )
    return (
        spark.table(name)
        .groupBy("prio", "_commit_version")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


ORACLE_TXLOG_STREAM = """
WITH src AS (
  SELECT o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         year(o_orderdate) AS yr
  FROM orders
),
vmap AS (
  SELECT yr, row_number() OVER (ORDER BY yr) - 1 AS ver
  FROM (SELECT DISTINCT yr FROM src)
)
SELECT s.prio, CAST(v.ver AS BIGINT) AS _commit_version,
       count(*) AS n_orders, CAST(sum(s.cents) AS BIGINT) AS sum_cents
FROM src s JOIN vmap v ON s.yr = v.yr
GROUP BY s.prio, v.ver
"""


# ---------------------------------------------------------------------------
# deletion vectors (row-level DELETE without file rewrite)
# ---------------------------------------------------------------------------


def _ensure_dv_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Two append commits over ``orders`` (split on ``okey % 2``), then a
    row-level DELETE of the urgent ``okey % 10 < 3`` slice via a
    positional deletion vector — no data file rewritten.  The builder
    asserts the no-rewrite invariant (data-group set unchanged) so a
    regression to copy-on-write delete fails the build, not just perf."""
    root = _fx(sf_dir, "txlog_dv_orders_v1")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderpriority").alias("prio"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        for i in range(2):
            t.commit_append(orders.filter(F.col("okey") % 2 == i))
        pre_groups = set(t.active_groups())
        t.delete_where(
            spark,
            (F.col("prio") == "1-URGENT") & (F.col("okey") % 10 < 3),
        )
        if set(t.active_groups()) != pre_groups:  # -O must not strip this
            raise RuntimeError("DV delete must not rewrite or add data groups")

    build_once(root, build)
    return TxTable(root)


def q_txlog_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via positional deletion vectors (plans/txlog.py
    ``delete_where``): the matching (file, row_index) pairs — harvested
    from Spark's native ``_metadata`` row-position columns inside the
    scan — are committed as a small DV group; readers subtract them with
    an anti-join and NO data file is rewritten (the builder asserts the
    active data-group set is unchanged).  The declared result aggregates
    three views per priority: the time-traveled PRE-delete snapshot, the
    POST-delete state, and the change feed's row-level ``delete``
    entries (``read_changes`` semi-joins the DV positions back against
    the covered files).  The oracle recomputes all three from ``orders``
    with the delete predicate applied in SQL.

    At 100 TB this is the GDPR-erasure / bad-batch-retraction path: the
    delete touches KBs of DV parquet instead of rewriting terabytes, the
    Delta deletion-vector / Iceberg positional-delete design; a later
    OPTIMIZE reads through the DVs and retires them
    (test_txlog.py::test_rewrite_reads_through_dv_and_retires_it)."""
    t = _ensure_dv_store(spark, sf_dir)
    pre_v = 1  # version before the delete commit (v2), by construction

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("prio").agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )

    return (
        agg(t.read(spark, version=pre_v), "pre")
        .unionByName(agg(t.read(spark), "post"))
        .unionByName(
            agg(
                t.read_changes(spark, from_version=pre_v).filter(
                    F.col("_change_op") == "delete"
                ),
                "cdf_delete",
            )
        )
    )


ORACLE_DELETE_VECTORS = """
WITH src AS (
  SELECT o_orderkey AS okey, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT prio, 'pre' AS snap, count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM src GROUP BY prio
UNION ALL
SELECT prio, 'post', count(*), CAST(sum(cents) AS BIGINT)
FROM src WHERE NOT (prio = '1-URGENT' AND okey % 10 < 3)
GROUP BY prio
UNION ALL
SELECT prio, 'cdf_delete', count(*), CAST(sum(cents) AS BIGINT)
FROM src WHERE prio = '1-URGENT' AND okey % 10 < 3
GROUP BY prio
"""


# ---------------------------------------------------------------------------
# merge-on-read UPDATE + MERGE INTO
# ---------------------------------------------------------------------------


def _ensure_mor_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """orders in two append groups, then an UPDATE (cents += 7 on the
    ``okey % 13`` slice) and a MERGE (source = the ``okey % 5`` slice
    re-priced +1,000,000 from the ORIGINAL values, plus new keys
    ``okey + 100000000`` for the ``okey % 17`` slice).  Both are
    merge-on-read commits: the builder asserts the two original data
    groups are STILL ACTIVE afterwards — neither DML rewrote a file."""
    root = _fx(sf_dir, "txlog_mor_orders_v1")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_orderpriority").alias("prio"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        for i in range(2):
            t.commit_append(orders.filter(F.col("okey") % 2 == i))
        base_groups = set(t.active_groups())
        t.update_where(
            spark, F.col("okey") % 13 == 0, {"cents": F.col("cents") + 7}
        )
        source = (
            orders.filter(F.col("okey") % 5 == 0)
            .withColumn("cents", F.col("cents") + 1_000_000)
            .unionByName(
                orders.filter(F.col("okey") % 17 == 0).select(
                    (F.col("okey") + 100_000_000).alias("okey"),
                    "prio",
                    (F.col("cents") + 13).alias("cents"),
                )
            )
        )
        t.merge_into(spark, source, "okey")
        if not base_groups <= set(t.active_groups()):  # -O must not strip
            raise RuntimeError(
                "merge-on-read DML must not rewrite or remove data groups"
            )

    build_once(root, build)
    return TxTable(root)


def q_txlog_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE + MERGE INTO (plans/txlog.py ``update_where``
    / ``merge_into``): each DML publishes ONE atomic commit carrying a
    positional deletion vector (masking the old row versions) plus an
    appended delta group (the new versions / inserts) — the two original
    data groups are never rewritten (builder-asserted).  Declared result
    = per-priority aggregate of the final state next to the time-traveled
    pre-DML snapshot; the oracle replays both DMLs in SQL: the merge
    source is built from ORIGINAL values, so update-then-merge precedence
    is exactly the CASE order (``%5`` wins over ``%13``), plus the
    inserted ``+100000000`` key range.

    At 100 TB this is the CDC-upsert path: cost O(|source| + matched),
    readers pay one broadcast anti-join against the DV positions, and a
    later OPTIMIZE majors the deltas back into clustered files
    (test_txlog.py::test_merge_into_chains_with_delete_and_optimize)."""
    t = _ensure_mor_store(spark, sf_dir)
    pre_v = 1  # last append before the two DML commits, by construction

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return df.groupBy("prio").agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )

    return agg(t.read(spark, version=pre_v), "pre").unionByName(
        agg(t.read(spark), "post")
    )


ORACLE_MERGE_ON_READ = """
WITH src AS (
  SELECT o_orderkey AS okey, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
final AS (
  SELECT okey, prio,
         CASE WHEN okey % 5 = 0 THEN cents + 1000000
              WHEN okey % 13 = 0 THEN cents + 7
              ELSE cents END AS cents
  FROM src
  UNION ALL
  SELECT okey + 100000000, prio, cents + 13 FROM src WHERE okey % 17 = 0
)
SELECT prio, 'pre' AS snap, count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM src GROUP BY prio
UNION ALL
SELECT prio, 'post', count(*), CAST(sum(cents) AS BIGINT)
FROM final GROUP BY prio
"""


def q_txlog_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a queryable DataFrame (plans/txlog.py
    ``history_df``) over the year-per-group store: version, operation,
    and group-delta counts per commit — the audit trail a data steward
    reads before trusting a table.  The oracle reconstructs the commit
    ledger from ``orders`` (version v = v-th distinct order year, one
    appended group each, nothing removed — the deterministic build
    contract of the fixture)."""
    t = _ensure_zonemap_store(spark, sf_dir)
    return t.history_df(spark).select(
        "version", "op",
        F.col("n_added").cast("long").alias("n_added"),
        F.col("n_removed").cast("long").alias("n_removed"),
    )


ORACLE_DESCRIBE_HISTORY = """
WITH vmap AS (
  SELECT row_number() OVER (ORDER BY yr) - 1 AS ver
  FROM (SELECT DISTINCT year(o_orderdate) AS yr FROM orders)
)
SELECT CAST(ver AS BIGINT) AS version, 'append' AS op,
       CAST(1 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed
FROM vmap
"""


# ---------------------------------------------------------------------------
# streaming CDC upsert through MERGE INTO (exactly-once)
# ---------------------------------------------------------------------------


def _ensure_cdc_upsert_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Drain the events stream through foreachBatch: each micro-batch is
    collapsed to its LATEST event per user (max_by on (ts, event_id) —
    the merge key uniqueness contract) and MERGEd into the ACID table
    with the batch's transaction identity; then batch 0 is adversarially
    REPLAYED — the txn identity makes the re-merge a no-op, which the
    builder asserts on the version counter."""
    from .queries_streaming import _events_stream

    root = _fx(sf_dir, "txlog_cdc_upsert_v1")

    def build() -> None:
        t = TxTable(root)

        def lww(df: DataFrame) -> DataFrame:
            """Last write per user on the collapsed shape — the key-unique
            merge source."""
            row = F.struct(
                F.col("event_type").alias("et"),
                F.col("cents").alias("cents"),
                F.col("ts").alias("ts"),
                F.col("event_id").alias("eid"),
            )
            okey = F.struct(F.col("ts"), F.col("event_id"))
            return (
                df.groupBy("user_id")
                .agg(F.max_by(row, okey).alias("r"))
                .select(
                    "user_id",
                    F.col("r.et").alias("event_type"),
                    F.col("r.cents").alias("cents"),
                    F.col("r.ts").alias("ts"),
                    F.col("r.eid").alias("eid"),
                )
                .withColumnRenamed("eid", "event_id")
            )

        def collapse(bdf: DataFrame) -> DataFrame:
            return lww(
                bdf.select(
                    "user_id",
                    "event_type",
                    F.floor(F.col("value") * 100 + F.lit(0.5))
                    .cast("long")
                    .alias("cents"),
                    "ts",
                    "event_id",
                )
            )

        def sink(bdf: DataFrame, batch_id: int) -> None:
            table = TxTable(root)
            sp = bdf.sparkSession
            latest = collapse(bdf)
            if table.latest_version() < 0:
                table.commit_append(latest, txn=("cdc_upsert", batch_id))
                return
            # CDC streams guarantee per-key order only within a batch; a
            # later batch may carry an OLDER change for a key.  Upsert must
            # therefore be last-write-wins against current state: fold the
            # touched keys' existing rows into the source before the merge
            # (one semi-join read of the touched keys, O(|batch|)).
            cur = table.read(sp).join(
                latest.select("user_id").distinct(), "user_id", "left_semi"
            )
            table.merge_into(
                sp,
                lww(latest.unionByName(cur)),
                "user_id",
                txn=("cdc_upsert", batch_id),
            )

        drain(
            _events_stream(spark, sf_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "_chk")),
            300,
        )
        # adversarial replay of batch 0 (sink restart redelivery): the txn
        # identity is already in the log → must not advance the version
        before = t.latest_version()
        if t.latest_version() < 0:
            raise RuntimeError("drain committed nothing")
        replay0 = collapse(load_table(spark, sf_dir, "events"))
        t.merge_into(spark, replay0, "user_id", txn=("cdc_upsert", 0))
        if t.latest_version() != before:
            raise RuntimeError("replayed merge must be a no-op")

    build_once(root, build)
    return TxTable(root)


def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming CDC upsert (plans/txlog.py ``merge_into``
    with a transaction identity): the events stream drains through
    foreachBatch, each batch collapses to its latest change per user
    and MERGEs merge-on-read into the ACID table; a replayed batch is a
    no-op (builder-asserted).  The declared result aggregates the final
    per-user state; the oracle collapses the same changelog in one
    batch window query — only an exactly-once, last-write-wins upsert
    table can match it.  This is the Delta CDC-ingest pattern: upsert
    cost O(|batch| + matched), no table rewrite, task retries and
    restarts absorbed by the txn action."""
    t = _ensure_cdc_upsert_store(spark, sf_dir)
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cents").alias("sum_cents"),
        )
    )


def _ensure_cdc_feed_store(spark: SparkSession, sf_dir: str):
    """A table whose history is one base append (v0) + one apply_cdc
    MERGE-triad commit (v1): matched-DELETE for o_orderkey % 7 == 1,
    matched-UPDATE (cents doubled) for % 7 == 2, not-matched-INSERT
    for % 7 == 0 (absent from the base).  Deterministic from orders,
    so the change feed between v0 and v1 is SQL-recomputable."""
    root = _fx(sf_dir, "txlog_cdc_feed_v1")

    def build() -> None:
        t = TxTable(root)
        base = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        mod = F.col("o_orderkey") % 7
        t.commit_append(base.filter(mod != 0))
        changes = (
            base.filter(mod == 1)
            .withColumn("op", F.lit("delete"))
            .unionByName(
                base.filter(mod == 2)
                .withColumn("cents", F.col("cents") * 2)
                .withColumn("op", F.lit("upsert"))
            )
            .unionByName(
                base.filter(mod == 0).withColumn("op", F.lit("upsert"))
            )
        )
        t.apply_cdc(spark, changes, "o_orderkey", txn=("cdc_feed", 1))

    build_once(root, build)
    return TxTable(root)


def q_txlog_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change-feed CONSUMPTION across an apply_cdc commit —
    the read half of the CDC contract the lakehouse tier claims
    (plans/txlog.py ``changes``: Delta CDF / Iceberg incremental
    scan).  The feed between v0 and v1 is assembled from the commit
    METADATA alone — the MERGE's delta group becomes the '+' rows and
    its deletion-vector positions (semi-joined back against the
    covered files) become the '-' rows; no snapshot is diffed.  The
    oracle IS the full diff of the two snapshots recomputed in SQL —
    an update must surface as exactly one '-' (old row) plus one '+'
    (new row), a delete as one '-', an insert as one '+' — so any
    feed row missed, duplicated, or mis-signed by the metadata path
    hash-mismatches against the snapshot truth.  Reference analog:
    the patch step's incremental semantics (pseudoace.py:105-110
    applies per-release diffs rather than re-importing)."""
    t = _ensure_cdc_feed_store(spark, sf_dir)
    feed = t.read_changes(spark, from_version=0, to_version=1)
    return feed.select(
        F.when(F.col("_change_op") == "delete", F.lit("-"))
        .otherwise(F.lit("+"))
        .alias("change"),
        "o_orderkey",
        "cents",
    )


ORACLE_CDC_FEED = """
WITH base AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT '+' AS change, o_orderkey, cents * 2 AS cents
FROM base WHERE o_orderkey % 7 = 2
UNION ALL
SELECT '+' AS change, o_orderkey, cents FROM base WHERE o_orderkey % 7 = 0
UNION ALL
SELECT '-' AS change, o_orderkey, cents
FROM base WHERE o_orderkey % 7 IN (1, 2)
"""


ORACLE_CDC_UPSERT = """
WITH ranked AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT event_type, count(*) AS n_users,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ranked WHERE rk = 1
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# incremental materialized view over the change feed (exactly-once cursor)
# ---------------------------------------------------------------------------


def _mv_rollup(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )


def _mv_refresh(spark: SparkSession, src: TxTable, mv: TxTable) -> int:
    """One incremental refresh: read the source CHANGE FEED since the
    recorded cursor, partial-aggregate ONLY the delta, and fold it into
    the view with a serializable merge whose transaction identity IS the
    new cursor — output and cursor move in ONE atomic commit, so a
    replayed refresh (retry, crashed scheduler) is a no-op and the view
    can never double-count.  The Delta/Materialize incremental-refresh
    contract built from txlog primitives."""
    src_v = src.latest_version()
    last = mv.txn_latest_batch("mv_refresh")
    if last is not None and last >= src_v:
        return mv.latest_version()  # already caught up
    frm = -1 if last is None else last
    delta = _mv_rollup(
        src.read_changes(spark, from_version=frm, to_version=src_v).drop(
            "_commit_version", "_change_op"
        )
    )

    def fold(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return delta
        c, d = cur.alias("c"), delta.alias("d")
        return (
            c.join(d, on="event_type", how="full_outer")
            .select(
                "event_type",
                (
                    F.coalesce(F.col("c.n_events"), F.lit(0))
                    + F.coalesce(F.col("d.n_events"), F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("c.sum_cents"), F.lit(0))
                    + F.coalesce(F.col("d.sum_cents"), F.lit(0))
                ).alias("sum_cents"),
            )
        )

    if mv.latest_version() < 0:
        return mv.commit_append(delta, txn=("mv_refresh", src_v))
    return mv.merge(spark, fold, txn=("mv_refresh", src_v))


def _ensure_incremental_mv(
    spark: SparkSession, sf_dir: str
) -> tuple[TxTable, TxTable]:
    """Source events in three append commits; the MV refreshed after the
    second commit, again after the third, then adversarially re-refreshed
    at the same cursor (must be a version-stable no-op)."""
    root = _fx(sf_dir, "txlog_incr_mv_v1")
    src_root, mv_root = os.path.join(root, "src"), os.path.join(root, "mv")

    def build() -> None:
        src, mv = TxTable(src_root), TxTable(mv_root)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        src.commit_append(ev.filter(F.col("event_id") % 3 == 0))
        src.commit_append(ev.filter(F.col("event_id") % 3 == 1))
        _mv_refresh(spark, src, mv)          # view covers commits 0..1
        src.commit_append(ev.filter(F.col("event_id") % 3 == 2))
        _mv_refresh(spark, src, mv)          # + commit 2, delta-only
        before = mv.latest_version()
        _mv_refresh(spark, src, mv)          # replayed refresh: no-op
        if mv.latest_version() != before:
            raise RuntimeError("replayed refresh must not commit")

    build_once(root, build)
    return TxTable(src_root), TxTable(mv_root)


def q_txlog_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view over the ACID table's change feed:
    each refresh partial-aggregates ONLY the new commits (never
    re-touching processed facts) and folds into the view in one commit
    that also records the cursor as a transaction identity — replayed
    refreshes are no-ops (builder-asserted).  The oracle is the
    single-pass aggregate over ALL events: the gate literally checks
    incremental == recompute, across two refreshes and a replay.

    At 100 TB this is how a rollup stays fresh under continuous ingest:
    refresh cost is O(delta) + a view-sized merge, and exactly-once
    holds through scheduler crashes because output and cursor are one
    atomic commit."""
    _src, mv = _ensure_incremental_mv(spark, sf_dir)
    return mv.read(spark)


ORACLE_INCREMENTAL_MV = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events
GROUP BY event_type
"""


def _ensure_partitioned_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Orders partitioned by priority through commit_append_partitioned:
    ONE atomic commit, ONE Spark write job, one file group per priority
    (the staged partitionBy → group-promotion path; contrast the
    zone-map store's per-year commit loop, which pays a job per slice).
    Rebuilt from scratch if a previous build died mid-way."""
    root = _fx(sf_dir, "txlog_partitioned_orders")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        t.commit_append_partitioned(orders, "prio")

    build_once(root, build)
    return TxTable(root)


def q_txlog_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning over a partitioned txlog table
    (plans/txlog.py ``commit_append_partitioned``): an equality
    predicate on the partition column plans EXACTLY the matching group
    — ``groups_scanned`` must be 1 and ``groups_total`` the priority
    count, both recomputed by the oracle from ``orders``, so pruning
    too little (scanned > 1) or a broken partition layout is a value
    mismatch.  ``partitions()`` (SHOW PARTITIONS from zone maps alone)
    must enumerate every priority; its count rides the result too.

    At 100 TB partitioned writes are the difference between a
    tenant/time-sliced query touching its slice and touching the table:
    one atomic commit lays out one group per partition value, and the
    existing zone-map planner prunes with EXACT (min == max) bounds —
    no directory-listing metastore, no new planner machinery."""
    t = _ensure_partitioned_store(spark, sf_dir)
    picked, total = t.prune_groups("prio", lo="1-URGENT", hi="1-URGENT")
    n_parts = len([p for p in t.partitions("prio") if p is not None])
    return (
        t.read_pruned(spark, "prio", lo="1-URGENT", hi="1-URGENT")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn("groups_scanned", F.lit(len(picked)).cast("long"))
        .withColumn("groups_total", F.lit(total).cast("long"))
        .withColumn("n_partitions", F.lit(n_parts).cast("long"))
    )


ORACLE_PARTITIONED = """
WITH src AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
meta AS (
  SELECT count(DISTINCT prio) AS total FROM src
)
SELECT status, count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       CAST(1 AS BIGINT) AS groups_scanned,
       CAST(meta.total AS BIGINT) AS groups_total,
       CAST(meta.total AS BIGINT) AS n_partitions
FROM src, meta
WHERE prio = '1-URGENT'
GROUP BY status, meta.total
"""


def _ensure_constraint_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """CHECK-constraint lifecycle fixture: seed commit → ADD CONSTRAINT
    (validates existing rows first) → a violating append is REJECTED
    before its commit publishes (the raise is asserted here — reaching
    the declared query proves it fired) → a clean append lands.  The
    final state is a pure function of ``orders``."""
    from .plans.txlog import ConstraintViolation

    root = _fx(sf_dir, "txlog_check_constraint")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )
        t.commit_append(orders.filter(F.col("o_orderkey") % 3 == 0))
        t.add_constraint(spark, "cents_pos", "cents > 0")
        second = orders.filter(F.col("o_orderkey") % 3 == 1)
        v_before = t.latest_version()
        try:
            t.commit_append(second.withColumn("cents", -F.col("cents")))
        except ConstraintViolation:
            pass
        else:
            raise RuntimeError("violating append must be rejected")
        if t.latest_version() != v_before:
            raise RuntimeError("rejected append must not advance the log")
        t.commit_append(second)

    build_once(root, build)
    return TxTable(root)


def q_txlog_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints enforced at COMMIT time (plans/txlog.py
    ``add_constraint``/``_check_constraints`` — Delta's ALTER TABLE ADD
    CONSTRAINT): adding validates existing rows, and every subsequent
    write is gated BEFORE its commit publishes, so a violating batch
    can never become visible to any reader at any version.  The
    declared result aggregates the table after seed + rejected + clean
    appends: the violating batch's rows (negated cents) must be absent
    and the clean batch present — a leak flips a sum's sign pattern.
    ``blocked_raised`` is reachable only through the asserted raise in
    the fixture build; ``n_constraints`` reads the live constraint set.
    Metadata-only enforcement state (O(commits) replay, checkpoint-
    seeded) — the validation itself is one combined filter+count over
    the BATCH, never the table."""
    t = _ensure_constraint_store(spark, sf_dir)
    n_cons = len(t.constraints())
    return (
        t.read(spark)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "status",
            "n_orders",
            "sum_cents",
            F.lit(n_cons).cast("int").alias("n_constraints"),
            F.lit(True).alias("blocked_raised"),
        )
    )


ORACLE_CHECK_CONSTRAINT = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
       CAST(1 AS INTEGER) AS n_constraints,
       TRUE AS blocked_raised
FROM orders
WHERE o_orderkey % 3 IN (0, 1)
GROUP BY 1
"""


def _ensure_restore_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """RESTORE lifecycle fixture: three appends (A, B, C), a checkpoint,
    RESTORE back to the A∪B state (one metadata commit — C's groups
    drop out of the live set but stay time-travelable), then a fourth
    append D.  Live = A∪B∪D; AS OF the pre-restore version = A∪B∪C."""
    root = _fx(sf_dir, "txlog_restore_checkpoint")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderstatus").alias("status"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "o_orderkey",
        )

        def part(i: int) -> DataFrame:
            return orders.filter(F.col("o_orderkey") % 4 == i)

        t.commit_append(part(0))  # v0: A
        t.commit_append(part(1))  # v1: B
        t.commit_append(part(2))  # v2: C
        t.checkpoint()
        t.restore(1)  # v3: metadata-only rollback to A∪B
        t.commit_append(part(3))  # v4: D

    build_once(root, build)
    return TxTable(root)


def q_txlog_restore_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE + checkpoint (plans/txlog.py ``restore``/``checkpoint``
    — Delta's RESTORE TABLE ... TO VERSION): rolling back is ONE
    metadata commit that re-pins the live group set to the target
    version — zero bytes rewritten, the undone commits stay readable
    by time travel, and later writes stack on the restored state.  The
    declared row aggregates the live table (A∪B∪D — C's rows must be
    gone) beside the SAME aggregate AS OF the pre-restore version
    (A∪B∪C — C must still be there), so both the rollback and the
    preserved history are inside the hash gate.  The checkpoint before
    the restore makes the post-restore replay checkpoint-seeded —
    O(commits since checkpoint), not O(history)."""
    t = _ensure_restore_store(spark, sf_dir)
    live = t.read(spark).groupBy("status").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("cents").alias("cents_live"),
    )
    pre = (
        t.read(spark, version=2)
        .groupBy("status")
        .agg(F.sum("cents").alias("cents_pre_restore"))
    )
    # LEFT join: the row set is exactly the LIVE statuses (a status
    # restored away entirely keeps no live row; one present only in
    # the post-restore append has a NULL pre-restore sum) — mirrored
    # by the oracle's HAVING over the live slice
    return live.join(pre, "status", "left").orderBy("status")


ORACLE_RESTORE = """
SELECT o_orderstatus AS status,
       count(CASE WHEN o_orderkey % 4 IN (0, 1, 3) THEN 1 END) AS n_live,
       CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1, 3) THEN
                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
            AS BIGINT) AS cents_live,
       CAST(sum(CASE WHEN o_orderkey % 4 IN (0, 1, 2) THEN
                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) END)
            AS BIGINT) AS cents_pre_restore
FROM orders
GROUP BY 1
HAVING count(CASE WHEN o_orderkey % 4 IN (0, 1, 3) THEN 1 END) > 0
ORDER BY 1
"""


def q_txlog_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest EXPORT for external engines (Delta's GENERATE
    symlink_format_manifest; Iceberg's metadata tables): write the
    pinned LIVE file list of a txlog table to a plain-text manifest so
    engines with no txlog reader (Trino external tables, DuckDB
    read_parquet over a glob) can read a CONSISTENT snapshot — never a
    half-committed directory listing.  The declared row re-reads the
    table THROUGH the manifest's raw parquet paths (bypassing the
    txlog reader entirely) and aggregates; its oracle is the same pure
    function of ``orders`` the live table equals, so a manifest that
    leaked a dropped group or missed a live one shifts a sum.
    ``manifest_consistent`` cross-checks row counts manifest-vs-log.
    O(groups) metadata; zero data copied.  Valid exactly when the
    table carries no masking state — this fixture (appends + restore)
    has no DVs and no column mapping; a manifest export of a table
    WITH deletion vectors must compact first (the documented contract,
    same as Delta's)."""
    import os as _os

    from pyspark.sql import Window

    t = _ensure_restore_store(spark, sf_dir)
    root = _fx(sf_dir, "txlog_restore_checkpoint")
    man_path = _os.path.join(root, "_manifest.txt")
    t.export_manifest(man_path)
    with open(man_path) as fh:
        listed = [ln.strip() for ln in fh if ln.strip()]
    raw = spark.read.parquet(*listed)
    live_n = t.read(spark).count()
    return (
        raw.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "status",
            "n_rows",
            "sum_cents",
            (
                F.sum("n_rows").over(Window.partitionBy())
                == F.lit(live_n)
            ).alias("manifest_consistent"),
        )
        .orderBy("status")
    )


ORACLE_EXPORT_MANIFEST = """
SELECT o_orderstatus AS status,
       count(*) AS n_rows,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
       TRUE AS manifest_consistent
FROM orders
WHERE o_orderkey % 4 IN (0, 1, 3)
GROUP BY 1
ORDER BY 1
"""


def _ensure_replace_where_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Events ingested once, then the ``click`` slice atomically
    REPLACEd with a doubled-cents backfill via ``replace_where`` — the
    daily-partition-correction write a lakehouse does constantly.  The
    replacement frame is derived from the pre-replace read, so the
    final state is a pure function of ``events``."""
    root = _fx(sf_dir, "txlog_replace_where_events")

    def build() -> None:
        t = TxTable(root)
        ev = load_table(spark, sf_dir, "events").select(
            "event_type",
            F.col("user_id").alias("uid"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
                "cents"
            ),
        )
        t.commit_append_partitioned(ev, "event_type")
        clicks = t.read(spark).filter(F.col("event_type") == "click")
        t.replace_where(
            spark,
            F.col("event_type") == "click",
            clicks.withColumn("cents", F.col("cents") * 2),
        )

    build_once(root, build)
    return TxTable(root)


def q_txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLACE WHERE (plans/txlog.py ``replace_where`` — Delta's
    replaceWhere / dynamic partition overwrite): one atomic merge-on-read
    commit masks every row of the predicate slice with a deletion vector
    and lands the corrected slice as the replacement group — readers see
    old XOR new, cost O(rows replaced), and the pre-replace state stays
    time-travelable.  The declared result aggregates the post-replace
    table per event type PLUS the same aggregate time-traveled to the
    pre-replace version — leakage of old clicks, loss of non-click rows,
    or a broken DV mask all shift a value."""
    t = _ensure_replace_where_store(spark, sf_dir)
    after = t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
    before = (
        t.read(spark, version=0)
        .groupBy("event_type")
        .agg(F.sum("cents").alias("sum_cents_v0"))
    )
    return after.join(before, "event_type")


ORACLE_REPLACE_WHERE = """
WITH src AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN event_type = 'click' THEN cents * 2
                ELSE cents END) AS BIGINT) AS sum_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents_v0
FROM src
GROUP BY event_type
"""


def _ensure_stream_partitioned(spark: SparkSession, sf_dir: str) -> TxTable:
    """Streaming × partitioning: every micro-batch lands through
    ``commit_append_partitioned`` (one atomic commit per batch, one
    group per event type inside it) with the per-batch txn identity,
    then batch 0 is adversarially replayed — exactly-once AND
    partition-pruned in the same sink."""
    from .queries_streaming import _events_stream

    root = _fx(sf_dir, "txlog_stream_partitioned")

    def build() -> None:
        t = TxTable(root)
        events = _events_stream(spark, sf_dir).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
                "cents"
            ),
        )

        def sink(bdf: DataFrame, batch_id: int) -> None:
            TxTable(root).commit_append_partitioned(
                bdf, "event_type", txn=("p_sink", batch_id)
            )

        drain(
            events.writeStream.foreachBatch(sink).option(
                "checkpointLocation", os.path.join(root, "_chk")
            ),
            300,
        )
        replay = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
            )
            .limit(500)
        )
        before = t.latest_version()
        t.commit_append_partitioned(replay, "event_type", txn=("p_sink", 0))
        if t.latest_version() != before:
            raise RuntimeError("replayed batch must not commit")

    build_once(root, build)
    return TxTable(root)


def q_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest INTO a partitioned table: each
    micro-batch is one atomic partitioned commit (txn identity makes
    replays no-ops), so the table accretes one group per (batch, type)
    and an equality read on one type prunes to that type's groups.  The
    declared result is the per-type aggregate — exactly-once is what
    the oracle (a plain batch aggregate over ``events``) checks — plus
    a ``pruned`` boolean proving the partition layout actually skips
    files on the single-type read (strictly fewer groups planned than
    live, and identical row count to the unpruned filter)."""
    t = _ensure_stream_partitioned(spark, sf_dir)
    picked, total = t.prune_groups("event_type", lo="click", hi="click")
    pruned_count = t.read_pruned(
        spark, "event_type", lo="click", hi="click"
    ).count()
    full_count = (
        t.read(spark).filter(F.col("event_type") == "click").count()
    )
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_ids"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn(
            "pruned",
            F.lit(
                len(picked) < total and pruned_count == full_count
            ),
        )
    )


ORACLE_STREAM_PARTITIONED = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct_ids,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       TRUE AS pruned
FROM events
GROUP BY event_type
"""


def _ensure_bloom_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Events ingested as 4 appends STRIDED on event_id (every group's
    min/max spans the whole id domain — zone maps cannot tell groups
    apart), then bloom sidecars built on event_id.  The layout where
    only a bloom index can skip files for a point lookup."""
    root = _fx(sf_dir, "txlog_bloom_events")

    def build() -> None:
        t = TxTable(root)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias(
                "cents"
            ),
        )
        for s in range(4):
            t.commit_append(ev.filter(F.col("event_id") % 4 == s))
        t.add_bloom_index(spark, "event_id")

    build_once(root, build)
    return TxTable(root)


def q_txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter point lookup (plans/txlog.py ``add_bloom_index`` /
    ``read_point``): the high-cardinality complement to zone maps.  The
    store's groups interleave event ids, so min/max stats keep every
    group; the bloom sidecars (10 bits/key, k=4 — Delta's bloom index
    as group-local ``_bloom_<col>.json``) prune the lookup to the
    owning group (± a ~1% false-positive group).  The declared result
    is the looked-up key's aggregate plus ``bloom_skipped`` — strictly
    fewer groups planned than live — so a bloom that stops pruning (or
    wrongly drops the owning group) goes hash-red.  At 100 TB this is
    the needle-in-haystack path: a key lookup opens one group's files,
    not the table's."""
    t = _ensure_bloom_store(spark, sf_dir)
    key = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("event_id").alias("k"))
        .collect()[0]["k"]
    )
    picked, total = t.prune_groups_point(spark, "event_id", key)
    return (
        t.read_point(spark, "event_id", key)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
        )
        .withColumn("event_id", F.lit(key).cast("long"))
        .withColumn("bloom_skipped", F.lit(len(picked) < total))
    )


ORACLE_BLOOM_LOOKUP = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       (SELECT min(event_id) FROM events) AS event_id,
       TRUE AS bloom_skipped
FROM events
WHERE event_id = (SELECT min(event_id) FROM events)
"""


def q_txlog_fast_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) (plans/txlog.py ``count_rows``): every
    group's exact row count rides its commit stats and every deletion
    vector records its masked cardinality, so the live count is
    Σ rows − Σ masked with zero data files opened — the
    Delta/Iceberg snapshot-count fast path, at any table size.  The
    declared result carries the metadata count AND the scan count over
    the replace-where store (one replaced slice = one live DV), so a
    drifting ledger (lost DV cardinality, stale group stats, a
    double-subtracted mask) is a hash red."""
    t = _ensure_replace_where_store(spark, sf_dir)
    n_meta = t.count_rows(spark)
    n_scan = t.read(spark).count()
    return spark.createDataFrame(
        [(n_meta, n_scan)], "n_meta long, n_scan long"
    )


ORACLE_FAST_COUNT = """
SELECT CAST(count(*) AS BIGINT) AS n_meta,
       CAST(count(*) AS BIGINT) AS n_scan
FROM events
"""


def _ensure_column_mapping_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Orders ingested, then the column surface exercised live:
    RENAME cents → amount_cents and DROP prio, both metadata-only
    commits over the same immutable data files."""
    root = _fx(sf_dir, "txlog_colmap_orders")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        t.commit_append(orders)                              # v0
        t.alter_rename_column(spark, "cents", "amount_cents")  # v1 (metadata)
        t.alter_drop_column(spark, "prio")                     # v2 (metadata)

    build_once(root, build)
    return TxTable(root)


def q_txlog_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE column mapping (plans/txlog.py ``alter_rename_column``
    / ``alter_drop_column``): RENAME and DROP are metadata-only commits
    — files keep their stable physical column names, readers alias
    physical → logical inside the scan, and no byte is rewritten at any
    table size (Delta's column-mapping contract).  The declared result
    reads the POST-alter table under the new name AND time-travels to
    v0 under the old one — a broken mapping (wrong alias, resurrected
    dropped column, lost data under rename) shifts a value or a column
    name.  ``n_columns`` pins the drop."""
    t = _ensure_column_mapping_store(spark, sf_dir)
    now = t.read(spark)
    after = now.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("amount_cents").alias("sum_amount_cents"),
    )
    v0 = (
        t.read(spark, version=0)
        .groupBy("status")
        .agg(F.sum("cents").alias("sum_cents_v0"))
    )
    return (
        after.join(v0, "status")
        .withColumn(
            "n_columns", F.lit(len(now.columns)).cast("long")
        )
    )


ORACLE_COLUMN_MAPPING = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_amount_cents,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents_v0,
       CAST(3 AS BIGINT) AS n_columns
FROM orders
GROUP BY o_orderstatus
"""


def _ensure_ivf_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """The vector-database-on-the-lakehouse composition: every embedding
    is assigned to its nearest IVF centroid (operators/similarity.
    ivf_assign — a zero-exchange map over a 1-row broadcast centroid
    array) and persisted with ``commit_append_partitioned`` on
    ``list_id`` — ONE file group per inverted list, min==max zone maps.
    A probe then prunes to its lists' groups at PLANNING time: the scan
    fraction n_probe/n_lists stops being a join filter and becomes
    file skipping, which is the property that matters when the corpus
    is 100 TB of vectors."""
    from .operators import similarity

    root = _fx(sf_dir, "txlog_ivf_embeddings")

    def build() -> None:
        t = TxTable(root)
        emb = load_table(spark, sf_dir, "embeddings")
        cents = similarity.deterministic_centroids(emb, 16)
        t.commit_append_partitioned(
            similarity.ivf_assign(emb, cents), "list_id"
        )

    build_once(root, build)
    return TxTable(root)


def q_ann_ivf_pruned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served FROM the partitioned store (_ensure_ivf_store):
    probe lists are selected per query from the folded centroid array
    (same deterministic seeding as ann_ivf_topk), the probed list ids
    are collected (≤ n_lists rows — driver-tier bound, the query
    planner's partition-selection step in any vector database), and
    each probed list becomes a zone-map-pruned group read.  The
    acceptance row gates mean recall@10 ≥ 0.4 against in-query brute
    force — plus a ``pruned`` boolean requiring the probe plan to have
    physically skipped groups (strictly fewer planned than live; when
    the distinct probe set legitimately covers every list — possible
    at toy corpus sizes where 8 queries × 6 probes span all 16 lists —
    full coverage is the correct plan and the flag stays TRUE)."""
    import functools

    from pyspark.sql import Window

    from .operators import similarity
    from .operators.similarity import centroid_array, cosine

    t = _ensure_ivf_store(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.deterministic_centroids(emb, 16)
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    probe_sorted = F.array_sort(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                (-cosine(F.col("query_vec"), s["centroid"])).alias("ns"),
                s["list_id"].alias("lid"),
            ),
        )
    )
    q_probe = (
        q.crossJoin(F.broadcast(centroid_array(cents)))
        .select(
            "query_id",
            "query_vec",
            F.explode(F.slice(probe_sorted, 1, 6)["lid"]).alias("list_id"),
        )
    )
    probes = sorted(
        r.list_id
        for r in q_probe.select("list_id").distinct().collect()
    )  # ≤ n_lists rows — the planner's partition-selection step
    picked: set[str] = set()
    total = len(t.active_groups())
    for p in probes:
        sel, _tot = t.prune_groups("list_id", lo=p, hi=p)
        picked.update(sel)
    corpus = functools.reduce(
        DataFrame.unionByName,
        [t.read_pruned(spark, "list_id", lo=p, hi=p) for p in probes],
    )
    scored = (
        corpus.join(F.broadcast(q_probe), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("query_vec", "embedding").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("neighbor_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    exact = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=10
    ).select("query_id", "neighbor_id")
    from .queries import _ann_recall_gate

    return _ann_recall_gate(approx, exact, bound=0.4).withColumn(
        "pruned",
        F.lit(0 < len(picked) < total or len(probes) >= total),
    )


ORACLE_ANN_IVF_PRUNED = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
                  i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))) AS score
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok,
       TRUE AS pruned
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# partition evolution: later appends repartition without rewriting history
# ---------------------------------------------------------------------------


def _ensure_evolution_store(spark: SparkSession, sf_dir: str) -> TxTable:
    """Iceberg-style partition EVOLUTION fixture: era 1 (even order
    keys) lands partitioned by YEAR, era 2 (odd keys) by PRIORITY —
    no rewrite of era-1 groups.  Because pruning plans from per-group
    zone maps (not a table-level partition spec), both layouts coexist:
    a predicate on either column prunes its own era's groups EXACTLY
    (min == max) and keeps the other era's conservatively."""
    root = _fx(sf_dir, "txlog_evolution_orders")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderpriority").alias("prio"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        t.commit_append_partitioned(
            orders.filter(F.col("o_orderkey") % 2 == 0), "yr"
        )
        t.commit_append_partitioned(
            orders.filter(F.col("o_orderkey") % 2 == 1), "prio"
        )

    build_once(root, build)
    return TxTable(root)


def q_txlog_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition evolution without history rewrite: era 1 of the store
    is year-partitioned, era 2 priority-partitioned (one atomic commit
    each).  The declared row runs one query per layout key — urgent
    rows (prio = '1-URGENT') and 1997 rows — carrying the exact counts
    AND the planner's groups_scanned/groups_total, all recomputed by
    the oracle from orders: each predicate must plan exactly 1 group
    of its own era plus ALL of the other era's groups (zone maps on a
    foreign-layout group span the full domain — conservative, never
    wrong).  This is the Iceberg partition-spec-evolution contract on
    zone maps alone: no table-level spec to migrate, old bytes never
    rewritten, new writes immediately query-optimal for the new key."""
    t = _ensure_evolution_store(spark, sf_dir)
    picked_p, total = t.prune_groups("prio", lo="1-URGENT", hi="1-URGENT")
    urgent = (
        t.read_pruned(spark, "prio", lo="1-URGENT", hi="1-URGENT")
        .filter(F.col("prio") == "1-URGENT")
        .agg(
            F.count(F.lit(1)).alias("n_urgent"),
            F.sum("cents").alias("urgent_cents"),
        )
    )
    picked_y, total_y = t.prune_groups("yr", lo=1997, hi=1997)
    y1997 = (
        t.read_pruned(spark, "yr", lo=1997, hi=1997)
        .filter(F.col("yr") == 1997)
        .agg(F.count(F.lit(1)).alias("n_1997"))
    )
    if total != total_y:  # not an assert: -O must not strip it
        raise RuntimeError(f"group-total mismatch: {total} != {total_y}")
    return (
        urgent.crossJoin(F.broadcast(y1997))
        .select(
            "n_urgent",
            "urgent_cents",
            "n_1997",
            F.lit(len(picked_p)).cast("long").alias("groups_scanned_prio"),
            F.lit(len(picked_y)).cast("long").alias("groups_scanned_yr"),
            F.lit(total).cast("long").alias("groups_total"),
        )
    )


# expected group counts derive from ZONE-MAP RANGE semantics, not from
# "every group matches": a foreign-layout group is kept iff the probe
# value lies inside that group's [min, max] for the probed column —
# e.g. a year-group with no urgent row has min(prio) > '1-URGENT' and
# is correctly pruned, so the oracle must count kept groups the same way
ORACLE_PARTITION_EVOLUTION = """
WITH src AS (
  SELECT o_orderkey, year(o_orderdate) AS yr,
         o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
era1g AS (
  SELECT yr, min(prio) AS plo, max(prio) AS phi
  FROM src WHERE o_orderkey % 2 = 0 GROUP BY yr
),
era2g AS (
  SELECT prio, min(yr) AS ylo, max(yr) AS yhi
  FROM src WHERE o_orderkey % 2 = 1 GROUP BY prio
),
gc AS (
  SELECT
    (SELECT count(*) FROM era1g
      WHERE plo <= '1-URGENT' AND phi >= '1-URGENT')
    + (SELECT count(*) FROM era2g WHERE prio = '1-URGENT')
      AS scanned_prio,
    (SELECT count(*) FROM era1g WHERE yr = 1997)
    + (SELECT count(*) FROM era2g WHERE ylo <= 1997 AND yhi >= 1997)
      AS scanned_yr,
    (SELECT count(*) FROM era1g) + (SELECT count(*) FROM era2g)
      AS total
)
SELECT count(CASE WHEN prio = '1-URGENT' THEN 1 END) AS n_urgent,
       CAST(sum(CASE WHEN prio = '1-URGENT' THEN cents END) AS BIGINT)
         AS urgent_cents,
       count(CASE WHEN yr = 1997 THEN 1 END) AS n_1997,
       CAST(gc.scanned_prio AS BIGINT) AS groups_scanned_prio,
       CAST(gc.scanned_yr AS BIGINT) AS groups_scanned_yr,
       CAST(gc.total AS BIGINT) AS groups_total
FROM src CROSS JOIN gc
GROUP BY gc.scanned_prio, gc.scanned_yr, gc.total
"""


# ---------------------------------------------------------------------------
# right-to-be-forgotten: DV delete -> rewrite -> physical vacuum
# ---------------------------------------------------------------------------


def _ensure_rtbf_store(spark: SparkSession, sf_dir: str):
    """GDPR-erasure fixture: a txlog store of orders rows goes through
    the full forget pipeline for one subject (the minimum custkey) —
    (1) ``delete_where`` masks the subject's rows with a positional DV
    (instant, O(rows deleted)); (2) ``optimize`` rewrites the LIVE rows
    only, reading through the DV, so the new files never contain the
    subject; (3) ``vacuum(retain 0)`` physically deletes the original
    group files that still carried the bytes.  Returns
    (table, subject, n_deleted_groups, old_version_raises)."""
    import json as _json

    root = _fx(sf_dir, "txlog_rtbf_orders")
    meta = os.path.join(root, "_META.json")

    def build() -> None:
        t = TxTable(root)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        subject = orders.agg(F.min("o_custkey")).collect()[0][0]
        # two appends so the subject's rows span multiple file groups
        t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 0))
        t.commit_append(orders.filter(F.col("o_orderkey") % 2 == 1))
        pre_groups = set(t.active_groups())
        t.delete_where(spark, f"o_custkey = {subject}")
        t.optimize(spark, target_groups=2)  # rewrite reads THROUGH the DV
        deleted = t.vacuum(retain_versions=0, min_age_seconds=0.0)
        # the pre-erasure layout must be physically gone, not just masked
        raises = False
        try:
            t.read(spark, 1).count()
        except Exception:
            raises = True
        with open(meta, "w") as fh:
            _json.dump(
                {
                    "subject": int(subject),
                    "deleted": len(set(deleted) & pre_groups),
                    "raises": bool(raises),
                },
                fh,
            )

    build_once(root, build)
    with open(meta) as fh:
        m = _json.load(fh)
    return TxTable(root), m["subject"], m["deleted"], m["raises"]


def q_txlog_rtbf_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, end to end and PHYSICAL: the declared row
    carries the subject's pre-erasure order count (oracle-recomputed),
    the post-erasure live count for the subject (must be 0) and for
    everyone else (must be untouched), whether the subject's original
    file groups were physically vacuumed, and whether time travel to
    the pre-erasure version now RAISES (the bytes are gone — Delta's
    VACUUM-beyond-retention contract).  A DV alone is a mask, not an
    erasure; this gates the full delete -> rewrite-through-DV ->
    vacuum pipeline.  At 100 TB the cost is O(subject rows) for the
    DV + one compaction of the affected groups — never a table scan
    per request when requests batch."""
    t, subject, n_deleted_groups, raises = _ensure_rtbf_store(
        spark, sf_dir
    )
    live = t.read(spark)
    agg = live.agg(
        F.sum(
            F.when(F.col("o_custkey") == subject, 1).otherwise(0)
        ).alias("subject_rows_live"),
        F.count(F.lit(1)).alias("other_rows_live"),
    )
    pre = (
        load_table(spark, sf_dir, "orders")
        .agg(
            F.sum(
                F.when(F.col("o_custkey") == subject, 1).otherwise(0)
            ).alias("subject_rows_before"),
            F.count(F.lit(1)).alias("total_rows_before"),
        )
    )
    return (
        pre.crossJoin(F.broadcast(agg))
        .select(
            F.lit(subject).cast("long").alias("subject"),
            F.col("subject_rows_before").cast("long").alias("subject_rows_before"),
            F.col("subject_rows_live").cast("long").alias("subject_rows_live"),
            (
                F.col("other_rows_live")
                == F.col("total_rows_before") - F.col("subject_rows_before")
            ).alias("others_untouched"),
            F.lit(n_deleted_groups > 0).alias("bytes_physically_deleted"),
            F.lit(raises).alias("pre_erasure_version_unreadable"),
        )
    )


ORACLE_RTBF = """
WITH s AS (SELECT min(o_custkey) AS subject FROM orders)
SELECT CAST(subject AS BIGINT) AS subject,
       CAST((SELECT count(*) FROM orders WHERE o_custkey = subject)
            AS BIGINT) AS subject_rows_before,
       CAST(0 AS BIGINT) AS subject_rows_live,
       TRUE AS others_untouched,
       TRUE AS bytes_physically_deleted,
       TRUE AS pre_erasure_version_unreadable
FROM s
"""


# ---------------------------------------------------------------------------
# SHALLOW CLONE (zero-copy CREATE TABLE ... CLONE)
# ---------------------------------------------------------------------------


def _ensure_clone_store(spark: SparkSession, sf_dir: str):
    """A shallow clone of the zonemap store (read-only on the source)
    with independent DML layered on: DELETE the urgent rows, then append
    a corrected copy (cents+10) derived from the clone's OWN time travel
    to v0 (a read through the foreign references).  Returns
    (source, clone); rebuilt if the source was rebuilt underneath (a
    foreign group no longer resolves)."""
    src = _ensure_zonemap_store(spark, sf_dir)
    root = _fx(sf_dir, "txlog_clone_orders")
    t = TxTable(root)
    if t.latest_version() >= 0:
        try:
            stale = not all(
                os.path.isdir(t._gpath(g)) for g in t._read_commit(0)["add"]
            )
        except FileNotFoundError:
            stale = True  # _gpath now raises for missing-everywhere
        if stale:
            shutil.rmtree(root, ignore_errors=True)

    def build() -> None:
        t = src.clone_shallow(root)
        corrected = (
            t.read(spark, 0)
            .filter(F.col("prio") == "1-URGENT")
            .withColumn("cents", F.col("cents") + F.lit(10))
        )
        t.delete_where(spark, "prio = '1-URGENT'")
        t.commit_append(corrected)

    build_once(root, build)
    return src, TxTable(root)


def q_txlog_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE (plans/txlog.py ``clone_shallow``): the
    clone's commit 0 re-asserts the source's groups/stats/DVs/schema by
    REFERENCE — no bytes copied at any table size — and the two logs
    then evolve independently.  The declared row compares, per year,
    the SOURCE's aggregates re-read AFTER the clone's DML (isolation:
    a leak changes src_cents and goes hash-red) against the CLONE's
    aggregates after its delete-urgent + corrected re-append
    (clone_cents = src_cents + 10 per urgent order), plus a
    ``clone_zero_copy`` boolean recomputed every call from commit 0
    (TRUE iff none of the cloned group references physically exist in
    the clone's own data dir).

    At 100 TB this is how a team forks a production table for an
    experiment in O(metadata): Delta's CREATE TABLE ... SHALLOW CLONE
    semantics, including DV transfer by file-path reference and reuse
    of the source's bloom sidecars."""
    src, cl = _ensure_clone_store(spark, sf_dir)
    c0 = cl._read_commit(0)
    n_local = sum(
        os.path.isdir(os.path.join(cl.data_dir, g)) for g in c0["add"]
    )
    s = (
        src.read(spark)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("src_n"),
            F.sum("cents").alias("src_cents"),
        )
    )
    c = (
        cl.read(spark)
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("clone_n"),
            F.sum("cents").alias("clone_cents"),
        )
    )
    return s.join(c, "yr").withColumn(
        "clone_zero_copy", F.lit(n_local == 0)
    )


ORACLE_SHALLOW_CLONE = """
WITH src AS (
  SELECT year(o_orderdate) AS yr, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)
SELECT yr,
       count(*) AS src_n,
       CAST(sum(cents) AS BIGINT) AS src_cents,
       count(*) AS clone_n,
       CAST(sum(cents)
            + 10 * count(CASE WHEN prio = '1-URGENT' THEN 1 END)
            AS BIGINT) AS clone_cents,
       TRUE AS clone_zero_copy
FROM src
GROUP BY yr
"""


# ---------------------------------------------------------------------------
# multi-table transactions: atomic catalog snapshots across txlog tables
# ---------------------------------------------------------------------------


def _sliced_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared catalog-fixture projection: (seg, cents, sl) with
    sl = o_orderkey % 3 — ONE definition so the snapshot and branch
    fixtures (and their oracles) can never test different shapes."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.floor(
            F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cents"),
        (F.col("o_orderkey") % 3).alias("sl"),
    )


def _summarize_slices(od: DataFrame, max_sl: int) -> DataFrame:
    return (
        od.filter(F.col("sl") <= max_sl)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("total_c"),
        )
    )


def _ensure_catalog_txn(spark: SparkSession, sf_dir: str):
    """Two multi-table transactions over a fact table and its summary,
    published through the atomic catalog (plans/catalog_txn.py), plus
    one IN-FLIGHT table-level append that never gets a catalog commit
    — the adversarial case catalog isolation must hide."""
    from .plans.catalog_txn import TxCatalog

    root = _fx(sf_dir, "txlog_catalog")

    def build() -> None:
        cat = TxCatalog(root)
        od = _sliced_orders(spark, sf_dir)
        fact, summ = cat.table("fact"), cat.table("summ")

        def summarize(max_sl: int) -> DataFrame:
            return _summarize_slices(od, max_sl)

        # txn 1: slice 0 into fact + its summary, one catalog publish
        fv = fact.commit_append(od.filter(F.col("sl") == 0).drop("sl"))
        sv = summ.commit_overwrite(summarize(0))
        cat.commit({"fact": fv, "summ": sv})
        # txn 2: slice 1 appended, summary rewritten, one catalog publish
        fv = fact.commit_append(od.filter(F.col("sl") == 1).drop("sl"))
        sv = summ.commit_overwrite(summarize(1))
        cat.commit({"fact": fv, "summ": sv})
        # in-flight: a table-level commit with NO catalog publish — catalog
        # readers must never see it
        fact.commit_append(od.filter(F.col("sl") == 2).drop("sl"))

    build_once(root, build)
    return TxCatalog(root)


def q_txlog_catalog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table snapshot isolation through the catalog commit log
    (plans/catalog_txn.py): two multi-table transactions each move a
    fact table AND its summary table in one atomic catalog publish; a
    third, in-flight fact append has no catalog commit.

    For BOTH catalog snapshots the query re-aggregates the fact table
    AT THE PINNED VERSION and joins the summary read at the same
    snapshot: ``consistent`` gates that every (cnt, total_c) pair
    matches — a reader resolving through the catalog can never see the
    fact table's new rows next to the summary's old totals, at either
    snapshot, even though three table-level fact commits exist.
    ``inflight_hidden`` gates that the uncommitted-at-catalog-tier
    append (slice 2) is invisible at the catalog head while the
    table's own head has moved past the pinned version.

    The oracle recomputes both snapshots' expected aggregates straight
    from ``orders`` (slice 0; slices 0-1) — so torn reads, a catalog
    that pins the wrong version, or leakage of the in-flight slice are
    value mismatches.  At 100 TB: a catalog snapshot read is ONE
    metadata GET (the full mapping rides each commit file — #tables
    entries, not #commits), the publish is the same put-if-absent
    primitive as the table log, and conflict detection is
    table-granular, so disjoint pipelines never serialize against each
    other.  No counterpart in the reference (single Datomic
    transactor, runcommand.py:1-60); extends §2.9's snapshot tier."""
    cat = _ensure_catalog_txn(spark, sf_dir)
    head = cat.latest_version()
    parts = []
    for cv in range(head + 1):
        f = (
            cat.read(spark, "fact", cv)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("f_cnt"),
                F.sum("cents").alias("f_total"),
            )
        )
        s = cat.read(spark, "summ", cv)
        parts.append(
            f.join(s, "seg").select(
                F.lit(cv).alias("cv"),
                "seg",
                F.col("f_cnt").alias("cnt"),
                F.col("f_total").alias("total_c"),
                (
                    (F.col("f_cnt") == F.col("cnt"))
                    & (F.col("f_total") == F.col("total_c"))
                ).alias("consistent"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # driver-tier metadata compare: the fact table's own head is PAST
    # the catalog-pinned version (the in-flight append), yet no
    # snapshot above saw its rows
    inflight_hidden = (
        cat.table("fact").latest_version() > cat.snapshot()["fact"]
    )
    return out.withColumn(
        "inflight_hidden", F.lit(bool(inflight_hidden))
    ).orderBy("cv", "seg")


def _ensure_catalog_branch(spark: SparkSession, sf_dir: str):
    """Main carries txn(slice 0); branch `dev` adds slice 1 to the
    fact/summary pair; merge lands the pair on main atomically.  Table
    data is shared immutable storage — the branch pins VERSIONS, so
    branching copies zero bytes."""
    from .plans.catalog_txn import TxCatalog

    root = _fx(sf_dir, "txlog_catalog_branch")

    def build() -> None:
        cat = TxCatalog(root)
        od = _sliced_orders(spark, sf_dir)
        fact, summ = cat.table("fact"), cat.table("summ")

        def summarize(max_sl: int) -> DataFrame:
            return _summarize_slices(od, max_sl)

        fv = fact.commit_append(od.filter(F.col("sl") == 0).drop("sl"))
        sv = summ.commit_overwrite(summarize(0))
        cat.commit({"fact": fv, "summ": sv})
        main_head_before = cat.latest_version()
        dev = cat.create_branch("dev")
        fv = fact.commit_append(od.filter(F.col("sl") == 1).drop("sl"))
        sv = summ.commit_overwrite(summarize(1))
        dev.commit({"fact": fv, "summ": sv})
        # isolation, both directions, before the merge (not an assert: -O)
        if cat.latest_version() != main_head_before:
            raise RuntimeError("branch commit leaked into main")
        if dev.snapshot()["fact"] != fv:
            raise RuntimeError("branch head did not advance")
        cat.merge_branch("dev")

    build_once(root, build)
    return TxCatalog(root)


def q_txlog_catalog_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nessie-style catalog BRANCHES over txlog tables (plans/
    catalog_txn.py): a `dev` branch forks from main (version 0 of the
    branch log seeds main's full pinned mapping — one GET, zero bytes
    copied), lands a multi-table transaction invisibly to main, and
    merges back as ONE atomic main commit under the same
    table-granular conflict rule as concurrent writers.

    Three refs are read back through their snapshots: main BEFORE the
    merge (must still be slice 0 — branch isolation), the branch head
    (slices 0-1), and main AFTER the merge (slices 0-1, and its
    fact/summary pair must be consistent — the merge is atomic).  The
    oracle recomputes all three expected aggregates from ``orders``;
    a branch leak, torn merge, or wrong branch point is a value
    mismatch.  At 100 TB this is zero-copy dev/prod isolation for
    whole PIPELINES: experiments rewrite tables on a branch, validate,
    then promote atomically — the catalog tier of the table-level
    SHALLOW CLONE story (txlog_shallow_clone).  No counterpart in the
    reference; extends §2.9's snapshot tier."""
    cat = _ensure_catalog_branch(spark, sf_dir)
    dev = cat.checkout("dev")
    main_before = cat.latest_version() - 1  # the merge is the head commit

    def agg_at(c, cv, ref):
        f = (
            c.read(spark, "fact", cv)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("f_cnt"),
                F.sum("cents").alias("f_total"),
            )
        )
        s = c.read(spark, "summ", cv)
        return f.join(s, "seg").select(
            F.lit(ref).alias("ref"),
            "seg",
            F.col("f_cnt").alias("cnt"),
            F.col("f_total").alias("total_c"),
            (
                (F.col("f_cnt") == F.col("cnt"))
                & (F.col("f_total") == F.col("total_c"))
            ).alias("consistent"),
        )

    out = (
        agg_at(cat, main_before, "main_before")
        .unionByName(agg_at(dev, None, "dev"))
        .unionByName(agg_at(cat, None, "main_merged"))
    )
    return out.orderBy("ref", "seg")


ORACLE_CATALOG_BRANCH = """
WITH od AS (
  SELECT o_orderpriority AS seg,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS cents,
         o_orderkey % 3 AS sl
  FROM orders),
s AS (
  SELECT 'main_before' AS ref, seg, count(*) AS cnt,
         CAST(sum(cents) AS BIGINT) AS total_c
  FROM od WHERE sl = 0 GROUP BY 2
  UNION ALL
  SELECT 'dev' AS ref, seg, count(*) AS cnt,
         CAST(sum(cents) AS BIGINT) AS total_c
  FROM od WHERE sl <= 1 GROUP BY 2
  UNION ALL
  SELECT 'main_merged' AS ref, seg, count(*) AS cnt,
         CAST(sum(cents) AS BIGINT) AS total_c
  FROM od WHERE sl <= 1 GROUP BY 2)
SELECT ref, seg, cnt, total_c, TRUE AS consistent
FROM s ORDER BY ref, seg
"""


def _ensure_stream_catalog(spark: SparkSession, sf_dir: str):
    """Streaming MULTI-TABLE exactly-once: every micro-batch appends to
    the fact table, rewrites its summary FROM the pinned fact version,
    and publishes both in one atomic catalog commit — all three under
    (app, batch) txn identities.  Batch 0 is adversarially replayed
    after the drain: fact, summ and catalog must all no-op."""
    from .plans.catalog_txn import TxCatalog
    from .queries_streaming import _events_stream

    root = _fx(sf_dir, "txlog_stream_catalog")

    def build() -> None:
        cat = TxCatalog(root)
        cents = F.floor(
            F.col("value").cast("double") * F.lit(100.0) + F.lit(0.5)
        ).cast("bigint")
        events = _events_stream(spark, sf_dir).select(
            F.col("event_type").alias("seg"), cents.alias("cents")
        )

        def refresh(bdf: DataFrame, batch_id: int) -> None:
            c = TxCatalog(root)
            fact, summ = c.table("fact"), c.table("summ")
            fv = fact.commit_append(bdf, txn=("cat_fact", batch_id))
            # summary derives from the PINNED fact version, not the head —
            # a concurrent in-flight append cannot leak into the pair
            sm = (
                fact.read(bdf.sparkSession, version=fv)
                .groupBy("seg")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("cents").alias("total_c"),
                )
            )
            sv = summ.commit_overwrite(sm, txn=("cat_summ", batch_id))
            c.commit({"fact": fv, "summ": sv}, txn=("cat", batch_id))

        drain(
            events.writeStream.foreachBatch(refresh).option(
                "checkpointLocation", os.path.join(root, "_chk")
            ),
            300,
        )
        before = (
            cat.table("fact").latest_version(),
            cat.table("summ").latest_version(),
            cat.latest_version(),
        )
        replay = (
            load_table(spark, sf_dir, "events")
            .select(F.col("event_type").alias("seg"), cents.alias("cents"))
            .limit(500)
        )
        refresh(replay, 0)
        after = (
            cat.table("fact").latest_version(),
            cat.table("summ").latest_version(),
            cat.latest_version(),
        )
        if after != before:  # not an assert: -O must not strip it
            raise RuntimeError(
                f"replayed batch must no-op all three logs ({before} -> {after})"
            )

    build_once(root, build)
    return TxCatalog(root)


def q_stream_catalog_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once MULTI-TABLE streaming sink: per
    micro-batch the fact append, the summary rewrite (derived from the
    pinned fact version) and the atomic catalog publish each carry the
    (app, batch) txn identity; a replayed batch 0 after the drain must
    no-op all three logs (enforced in the fixture build).  The query
    re-aggregates the fact table AT the catalog-pinned version and
    joins the summary from the SAME snapshot: ``consistent`` gates the
    pair; the oracle recomputes the totals straight from ``events`` so
    a lost batch, doubled batch, or torn fact/summ pair is a value
    mismatch.  At 100 TB this is the lakehouse ingestion contract:
    at-least-once micro-batches become an exactly-once, cross-table-
    consistent catalog head.  Extends stream_txlog_sink (single-table
    exactly-once) to the multi-table tier."""
    cat = _ensure_stream_catalog(spark, sf_dir)
    f = (
        cat.read(spark, "fact")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("f_cnt"),
            F.sum("cents").alias("f_total"),
        )
    )
    s = cat.read(spark, "summ")
    return (
        f.join(s, "seg")
        .select(
            "seg",
            F.col("f_cnt").alias("cnt"),
            (F.col("f_total") / F.lit(100.0)).alias("total_value"),
            (
                (F.col("f_cnt") == F.col("cnt"))
                & (F.col("f_total") == F.col("total_c"))
            ).alias("consistent"),
        )
        .orderBy("seg")
    )


ORACLE_STREAM_CATALOG = """
SELECT event_type AS seg, count(*) AS cnt,
       CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) / 100.0 AS total_value,
       TRUE AS consistent
FROM events GROUP BY 1 ORDER BY 1
"""


ORACLE_CATALOG_SNAPSHOT = """
WITH od AS (
  SELECT o_orderpriority AS seg,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS cents,
         o_orderkey % 3 AS sl
  FROM orders),
s AS (
  SELECT 0 AS cv, seg, count(*) AS cnt,
         CAST(sum(cents) AS BIGINT) AS total_c
  FROM od WHERE sl = 0 GROUP BY 2
  UNION ALL
  SELECT 1 AS cv, seg, count(*) AS cnt,
         CAST(sum(cents) AS BIGINT) AS total_c
  FROM od WHERE sl <= 1 GROUP BY 2)
SELECT cv, seg, cnt, total_c, TRUE AS consistent, TRUE AS inflight_hidden
FROM s ORDER BY cv, seg
"""


def register(queries: dict, oracles: dict) -> None:
    queries["txlog_cdc_feed"] = q_txlog_cdc_feed
    oracles["txlog_cdc_feed"] = ORACLE_CDC_FEED
    queries["txlog_zonemap_scan"] = q_txlog_zonemap_scan
    oracles["txlog_zonemap_scan"] = ORACLE_ZONEMAP
    queries["txlog_partitioned_scan"] = q_txlog_partitioned_scan
    oracles["txlog_partitioned_scan"] = ORACLE_PARTITIONED
    queries["txlog_replace_where"] = q_txlog_replace_where
    oracles["txlog_replace_where"] = ORACLE_REPLACE_WHERE
    queries["txlog_check_constraint"] = q_txlog_check_constraint
    oracles["txlog_check_constraint"] = ORACLE_CHECK_CONSTRAINT
    queries["txlog_restore_checkpoint"] = q_txlog_restore_checkpoint
    oracles["txlog_restore_checkpoint"] = ORACLE_RESTORE
    queries["txlog_export_manifest"] = q_txlog_export_manifest
    oracles["txlog_export_manifest"] = ORACLE_EXPORT_MANIFEST
    queries["stream_partitioned_sink"] = q_stream_partitioned_sink
    oracles["stream_partitioned_sink"] = ORACLE_STREAM_PARTITIONED
    queries["txlog_bloom_lookup"] = q_txlog_bloom_lookup
    oracles["txlog_bloom_lookup"] = ORACLE_BLOOM_LOOKUP
    queries["txlog_column_mapping"] = q_txlog_column_mapping
    oracles["txlog_column_mapping"] = ORACLE_COLUMN_MAPPING
    queries["txlog_fast_count"] = q_txlog_fast_count
    oracles["txlog_fast_count"] = ORACLE_FAST_COUNT
    queries["stream_txlog_sink"] = q_stream_txlog_sink
    oracles["stream_txlog_sink"] = ORACLE_STREAM_TXLOG
    queries["txlog_optimize_zorder"] = q_txlog_optimize_zorder
    oracles["txlog_optimize_zorder"] = ORACLE_OPTIMIZE
    queries["txlog_cdf_read"] = q_txlog_cdf_read
    oracles["txlog_cdf_read"] = ORACLE_CDF
    queries["txlog_stream_source"] = q_txlog_stream_source
    oracles["txlog_stream_source"] = ORACLE_TXLOG_STREAM
    queries["txlog_delete_vectors"] = q_txlog_delete_vectors
    oracles["txlog_delete_vectors"] = ORACLE_DELETE_VECTORS
    queries["txlog_merge_on_read"] = q_txlog_merge_on_read
    oracles["txlog_merge_on_read"] = ORACLE_MERGE_ON_READ
    queries["stream_cdc_upsert"] = q_stream_cdc_upsert
    oracles["stream_cdc_upsert"] = ORACLE_CDC_UPSERT
    queries["txlog_incremental_mv"] = q_txlog_incremental_mv
    oracles["txlog_incremental_mv"] = ORACLE_INCREMENTAL_MV
    queries["txlog_describe_history"] = q_txlog_describe_history
    oracles["txlog_describe_history"] = ORACLE_DESCRIBE_HISTORY
    queries["ann_ivf_pruned_store"] = q_ann_ivf_pruned_store
    oracles["ann_ivf_pruned_store"] = ORACLE_ANN_IVF_PRUNED
    queries["txlog_shallow_clone"] = q_txlog_shallow_clone
    oracles["txlog_shallow_clone"] = ORACLE_SHALLOW_CLONE
    queries["txlog_catalog_snapshot"] = q_txlog_catalog_snapshot
    oracles["txlog_catalog_snapshot"] = ORACLE_CATALOG_SNAPSHOT
    queries["stream_catalog_txn"] = q_stream_catalog_txn
    oracles["stream_catalog_txn"] = ORACLE_STREAM_CATALOG
    queries["txlog_catalog_branch"] = q_txlog_catalog_branch
    oracles["txlog_catalog_branch"] = ORACLE_CATALOG_BRANCH
    queries["txlog_rtbf_erasure"] = q_txlog_rtbf_erasure
    oracles["txlog_rtbf_erasure"] = ORACLE_RTBF
    queries["txlog_partition_evolution"] = q_txlog_partition_evolution
    oracles["txlog_partition_evolution"] = ORACLE_PARTITION_EVOLUTION
