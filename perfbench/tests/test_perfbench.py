"""Tests of the benchmark itself: fixture determinism, the oracle checks
catching a planted wrong answer, and the metric names it prints.

    python -m pytest perfbench/tests -q

``test_planted_fault_fails_the_run`` starts Spark and runs the whole
benchmark once (about a minute on 4 cores).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from contextlib import redirect_stdout

from perfbench import gen, oracle, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = gen.Scale(customers=50, orders=200, stream_round_datoms=500)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    a = gen.generate_release(str(tmp_path / "a"), seed=7, scale=SMALL)
    b = gen.generate_release(str(tmp_path / "b"), seed=7, scale=SMALL)
    gen.stream_round(str(tmp_path / "a" / "r0.parquet"), 7, 0, SMALL)
    gen.stream_round(str(tmp_path / "b" / "r0.parquet"), 7, 0, SMALL)
    da, db = _tree_digest(a.root), _tree_digest(b.root)
    assert da == db
    assert any(k.startswith("dumps/") for k in da)
    assert any(k.startswith("truth/") for k in da)


def test_other_seed_gives_other_fixtures(tmp_path):
    a = gen.generate_release(str(tmp_path / "a"), seed=7, scale=SMALL)
    b = gen.generate_release(str(tmp_path / "b"), seed=8, scale=SMALL)
    assert _tree_digest(a.root) != _tree_digest(b.root)


def test_oracle_store_applies_patches_last_write_wins(tmp_path):
    rel = gen.generate_release(str(tmp_path / "r"), seed=3, scale=SMALL)
    o = oracle.ReleaseOracle(rel, ("a", "b"))
    try:
        # one row per card-one attribute; patch set B's status wins
        # wherever both sets touched an order
        dup = o.con.execute(
            "SELECT count(*) FROM (SELECT class, obj_id, attr, count(*) n "
            "FROM store WHERE attr <> 'Flag' GROUP BY ALL HAVING n > 1)"
        ).fetchone()[0]
        assert dup == 0
        b_status = o.con.execute(
            f"SELECT obj_id, value FROM read_parquet('{rel.truth_patches('b')}') "
            "WHERE attr = 'Status'"
        ).fetchall()
        for oid, value in b_status:
            got = o.con.execute(
                "SELECT value FROM store WHERE class = 'Order' AND obj_id = ? "
                "AND attr = 'Status'", [oid]
            ).fetchone()[0]
            assert got == value
    finally:
        o.close()


def test_order_state_check_tells_patch_sets_apart(tmp_path):
    """A store holding patch set A only fails the A+B check of the
    re-run, though its QA counts equal the A+B ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rel = gen.generate_release(str(tmp_path / "r"), seed=4, scale=SMALL)
    oa, oab = oracle.ReleaseOracle(rel, ("a",)), oracle.ReleaseOracle(rel, ("a", "b"))
    try:
        assert oa.qa_csv() == oab.qa_csv()
        rows = oa.con.execute(
            "SELECT obj_id, attr, value FROM store WHERE class = 'Order'"
        ).fetchall()
        part = tmp_path / "store" / "class=Order"
        part.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "e": [int(oid[1:]) for oid, _, _ in rows],
                "a": [f"Order/{attr}" for _, attr, _ in rows],
                "v": [value for _, _, value in rows],
            }),
            str(part / "part-0.parquet"),
        )
        got = oracle.store_order_state(str(tmp_path / "store"))
        assert got == oa.order_patch_state()
        assert got != oab.order_patch_state()
    finally:
        oa.close()
        oab.close()


def test_planted_qa_row_fails_the_qa_check(tmp_path):
    rel = gen.generate_release(str(tmp_path / "r"), seed=5, scale=SMALL)
    o = oracle.ReleaseOracle(rel, ("a",))
    try:
        rows = o.qa_rows()
        good = oracle.qa_csv_text(rows)
        cls, actual, expected = rows[0]
        planted = oracle.qa_csv_text([(cls, actual + 1, expected)] + rows[1:])
    finally:
        o.close()
    assert good != planted
    qa_dir = tmp_path / "qa"
    qa_dir.mkdir()
    (qa_dir / "part-00000-x.csv").write_text(planted)
    from perfbench.workloads import Outcome, ReleaseRun

    out = Outcome()
    out.check("qa", ReleaseRun._qa_text(str(qa_dir)) == good)
    assert not out.correct


def test_digest_ignores_row_order_and_sees_values():
    rows = [("a", 1), ("b", 2)]
    assert oracle.digest(rows) == oracle.digest(list(reversed(rows)))
    assert oracle.digest(rows) != oracle.digest([("a", 1), ("b", 3)])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tail_is_highest_percentile_with_ten_beyond():
    from perfbench.workloads import tail

    assert tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(40)]) == (39.0, 100.0, 40)
    xs = [float(i) for i in range(1, 201)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (190.0, 95.0, 200)
    assert sum(x > value for x in xs) == 10


def test_planted_fault_fails_the_run(monkeypatch):
    """A wrong QA expectation makes the whole command report
    ``correct: false`` and exit 1, with every metric still printed."""
    real = oracle.ReleaseOracle.qa_rows

    def planted(self):
        rows = real(self)
        cls, actual, expected = rows[0]
        return [(cls, actual + 1, expected)] + rows[1:]

    monkeypatch.setattr(oracle.ReleaseOracle, "qa_rows", planted)
    buf = io.StringIO()
    with redirect_stdout(buf):
        code = run.main(["--workload", "sf0.001", "--seed", "1", "--seconds", "1", "--trace", "0"])
    result = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert code == 1
    assert result["correct"] is False
    assert set(result["metrics"]) == set(run.END_TO_END_UNITS)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    import shutil
    import subprocess
    import sys

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sf0.001", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
    assert "db_migration_spark" in proc.stderr
