"""The shared fixture protocol (queries_shared.py): build-once behind the
``_BUILD_DONE`` marker, the availableNow drain with a hard timeout, and
the exactly-once fold-MV with its batch-0 replay check — on tiny local
data."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from db_migration_spark.plans.txlog import TxTable
from db_migration_spark.queries_shared import build_once, drain, fold_mv


def _file_stream(spark, tmp_path, n: int = 10):
    src = str(tmp_path / "src")
    spark.range(n).coalesce(1).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def _count_mv(spark, root, stream):
    return fold_mv(
        spark,
        root,
        lambda: stream,
        lambda df: df.agg(F.count(F.lit(1)).alias("n")),
        lambda df: df.agg(F.sum("n").alias("n")),
        "count_mv",
        lambda: spark.range(3),
    )


def test_drain_timeout_raises_and_stops_query(spark, tmp_path):
    def slow(bdf, batch_id):
        time.sleep(3)

    writer = (
        _file_stream(spark, tmp_path)
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .queryName("fixture_protocol_slow_drain")
    )
    with pytest.raises(RuntimeError, match="did not finish in 1s"):
        drain(writer, 1)
    assert not [
        q for q in spark.streams.active
        if q.name == "fixture_protocol_slow_drain"
    ]


def test_replay_that_commits_raises_and_removes_root(
    spark, tmp_path, monkeypatch
):
    # a broken txn dedup: merge ignores the (app, batch) identity, so
    # the batch-0 replay commits a second time
    real_merge = TxTable.merge

    def merge_without_txn(self, sp, transform, max_retries=5, txn=None):
        return real_merge(self, sp, transform, max_retries)

    monkeypatch.setattr(TxTable, "merge", merge_without_txn)
    root = str(tmp_path / "mv")
    with pytest.raises(RuntimeError, match="must not commit"):
        _count_mv(spark, root, _file_stream(spark, tmp_path))
    assert not os.path.exists(root)


def test_completed_build_is_not_rebuilt(spark, tmp_path):
    root = str(tmp_path / "mv")
    stream = _file_stream(spark, tmp_path)
    mv = _count_mv(spark, root, stream)
    assert [r.n for r in mv.read(spark).collect()] == [10]
    marker = os.path.join(root, "_BUILD_DONE")
    version, stamp = mv.latest_version(), os.stat(marker).st_mtime_ns

    again = _count_mv(spark, root, stream)
    assert again.latest_version() == version
    assert os.stat(marker).st_mtime_ns == stamp
    assert [r.n for r in again.read(spark).collect()] == [10]

    calls = []
    build_once(root, lambda: calls.append(1))
    assert calls == []


def test_partial_build_is_rebuilt_from_scratch(tmp_path):
    root = tmp_path / "store"
    root.mkdir()
    (root / "leftover").write_text("half-written")
    build_once(str(root), lambda: (root / "fresh").write_text("ok"))
    assert sorted(os.listdir(root)) == ["_BUILD_DONE", "fresh"]
