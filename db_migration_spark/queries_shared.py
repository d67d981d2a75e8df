"""Shared query-building helpers and oracle CTE fragments used by more
than one queries_* module — a LEAF module (imports only operators and
the txlog table), so family modules can import it without touching the
registry's import cycle.

It also holds the one fixture protocol every persisted store a declared
query serves from goes through (the idempotent-step rule: a completed
step's output turns the re-run into an existence check):

* ``build_once(root, build)`` — the ``_BUILD_DONE`` marker under
  ``root`` means the store is complete, and the call returns at once.
  Without it the root is removed and re-created empty (a partial build
  is never resumed, it is rebuilt from scratch), ``build()`` runs, and
  the marker is written last.  If ``build`` raises — its own replay or
  exactness check included — the root is removed before the error
  propagates, so a failed build is never cached as a finished fixture.
* ``drain(writer, timeout_s)`` — start a stream with
  ``trigger(availableNow=True)`` and wait up to ``timeout_s`` seconds.
  A drain that does not finish in time is stopped and raises: a
  partly drained sink is never read as the answer.
* ``fold_mv(...)`` — an exactly-once materialized view: every
  micro-batch's partial is folded into a ``TxTable.merge`` under the
  txn identity ``(app, batch_id)``; after the drain batch 0 is replayed
  with the caller's deterministic slice, and a replay that commits is a
  ``RuntimeError`` (a check, not an ``assert``, so ``python -O`` keeps
  it)."""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .catalog import load_table
from .operators import eav
from .plans.txlog import TxTable


def build_once(root: str, build: Callable[[], None]) -> None:
    """Run ``build`` unless ``root`` already holds a completed build."""
    done = os.path.join(root, "_BUILD_DONE")
    if os.path.exists(done):
        return
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        build()
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    with open(done, "w"):
        pass


def drain(writer: DataStreamWriter, timeout_s: float) -> None:
    """Run ``writer`` to completion under ``availableNow``; stop it and
    raise if it is still running after ``timeout_s`` seconds."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"availableNow drain {q.name or q.id} did not finish in "
            f"{timeout_s}s"
        )


Fold = Callable[[DataFrame], DataFrame]


def fold_mv(
    spark: SparkSession, root: str, stream: Callable[[], DataFrame],
    partial: Fold, combine: Fold, app: str, replay: Callable[[], DataFrame],
) -> TxTable:
    """Build-once exactly-once MV at ``root``: each micro-batch of
    ``stream()`` contributes ``partial(batch)``, folded into the stored
    view as ``combine(view ∪ partial)``; ``replay()`` is the batch-side
    slice re-delivered as batch 0, which must not commit.  Both inputs
    are built only when the view is, so a completed view costs one
    marker check."""

    def refresh(bdf: DataFrame, batch_id: int) -> None:
        part = partial(bdf)

        def fold(current: DataFrame | None) -> DataFrame:
            if current is None:
                return part
            return combine(current.unionByName(part))

        TxTable(root).merge(bdf.sparkSession, fold, txn=(app, batch_id))

    def build() -> None:
        chk = os.path.join(root, "_chk")
        drain(stream().writeStream.foreachBatch(refresh).option(
            "checkpointLocation", chk), 300)
        t = TxTable(root)
        before = t.latest_version()
        slice0 = replay()
        t.merge(spark, lambda _current: partial(slice0), txn=(app, 0))
        if t.latest_version() != before:
            raise RuntimeError(
                f"replayed {app} batch 0 must not commit (txn dedup broke)"
            )

    build_once(root, build)
    return TxTable(root)


_MELT_ATTRS = ["l_quantity", "l_returnflag", "l_linestatus", "l_shipdate"]


def _melt_lineitem_df(li: DataFrame) -> DataFrame:
    prepared = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__e"),
        F.col("l_quantity").cast("long").cast("string").alias("l_quantity"),
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate").cast("date").cast("string").alias("l_shipdate"),
        F.col("l_shipdate").alias("__tx"),
    )
    return eav.melt(prepared, F.col("__e"), _MELT_ATTRS, "__tx")


def _melted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _melt_lineitem_df(load_table(spark, sf_dir, "lineitem"))


_ORACLE_MELT_BODY = """
SELECT l_orderkey * 8 + l_linenumber AS e, 'l_quantity' AS a,
       CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS v, l_shipdate AS tx, true AS op
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_returnflag', l_returnflag, l_shipdate, true
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_linestatus', l_linestatus, l_shipdate, true
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_shipdate',
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR), l_shipdate, true
FROM lineitem
"""


def _ann_recall_gate(approx: DataFrame, exact: DataFrame, bound: float) -> DataFrame:
    """One deterministic acceptance row for an ANN variant: exact-side
    counts (SQL-recomputable) plus a mean-recall@k boolean.  The
    hashing/seeding inside each variant is deterministic, so the
    boolean is a fixed property of the fixture, not a flaky check."""
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    base = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    return base.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        # vacuous pass on an empty exact set (matches the oracle's TRUE)
        F.coalesce(
            F.try_divide(F.col("n_hit"), F.col("n_exact")) >= bound,
            F.lit(True),
        ).alias("recall_ok"),
    )


# exact top-10 head shared by the three ANN acceptance oracles
_ORACLE_ANN_EXACT_HEAD = """
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
       TRUE AS recall_ok
FROM ranked WHERE rank <= 10
"""

