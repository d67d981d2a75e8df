"""End-to-end MigrationJob: dumps+models+catalog → store, QA report,
homology split, snapshot — with resume semantics."""

from __future__ import annotations

import gzip

import pytest

from db_migration_spark.migrate import MigrationJob

DUMP = '''Gene : "G1"
Identity "g-one" -O "2010-01-01_10:00:00"
Score "3.5" -O "2010-01-01_10:00:01"

Gene : "G2"
Identity "g-two" -O "2010-01-02_10:00:00"

Protein : "P1"
Peptide "MSD" -O "2010-01-03_10:00:00"

Homology_group : "H1"
Member "G1" -O "2010-01-04_10:00:00"
'''

PATCH = '''Gene : "G1"
Identity "g-one-renamed" -O "2011-01-01_10:00:00"

Protein : "P1"
Mass "99.25" -O "2011-01-02_10:00:00"
'''

MODELS = """?Gene
  Identity UNIQUE Text
  Score Float
?Protein
  Peptide UNIQUE Text
  Mass UNIQUE Float
?Homology_group
  Member Text
"""


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("migration")
    (root / "dumps").mkdir()
    with gzip.open(root / "dumps" / "dump1.ace.gz", "wt") as fp:
        fp.write(DUMP)
    (root / "patches").mkdir()
    (root / "patches" / "p1.ace").write_text(PATCH)
    (root / "models.wrm.WS299").write_text(MODELS)
    with gzip.open(root / "catalog.txt.gz", "wt") as fp:
        fp.write("Gene 2\nProtein 1\nHomology_group 1\nVariation 5\n")
    j = MigrationJob(
        spark,
        workspace=str(root / "ws"),
        dumps_path=str(root / "dumps"),
        models_path=str(root / "models.wrm.WS299"),
        catalog_path=str(root / "catalog.txt.gz"),
        patches_path=str(root / "patches"),
        release="WS299",
        homol_classes=["Homology_group"],
    )
    j.run()
    return j


def test_store_is_typed_and_tx_sorted(spark, job):
    store = spark.read.parquet(job._path("datoms_patched"))
    rows = store.collect()
    assert len(rows) == 6
    score = [r for r in rows if r["a"] == "Gene/Score"][0]
    assert score["v_double"] == 3.5
    # a patched typed value is typed like one from the base dump
    mass = [r for r in rows if r["a"] == "Protein/Mass"]
    assert [(r["v"], r["v_double"]) for r in mass] == [("99.25", 99.25)]


def test_patch_won(spark, job):
    store = spark.read.parquet(job._path("datoms_patched"))
    idents = {
        r["v"] for r in store.collect() if r["a"] == "Gene/Identity"
    }
    assert "g-one-renamed" in idents and "g-one" not in idents


def test_qa_report_diff(spark, job):
    report = spark.read.option("header", True).csv(job._path("qa_report"))
    by_class = {r["class_name"]: r for r in report.collect()}
    assert by_class["Gene"]["matches"] == "true"
    assert by_class["Protein"]["matches"] == "true"
    # Variation expected 5, found 0 → flagged
    assert by_class["Variation"]["actual_count"] == "0"
    assert by_class["Variation"]["matches"] == "false"


def test_homology_store(spark, job):
    homol = spark.read.parquet(job._path("homol"))
    assert {r["class"] for r in homol.collect()} == {"Homology_group"}


def test_backup_and_resume(spark, job):
    backup = spark.read.parquet(job._path("backup"))
    assert backup.count() == 6
    # manifest says all 7 steps done; re-running is a no-op (cursor at end)
    p = job.pipeline()
    state = p._load()
    assert state["last_step_ok"] == 7
    ctx = p.run()
    assert ctx == {}  # nothing re-executed


def test_store_partition_pruning(spark, job):
    import contextlib, io
    from pyspark.sql import functions as F

    store = spark.read.parquet(job._path("datoms_patched"))
    pruned = store.filter(F.col("class") == "Gene")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    # hive-partitioned by class → the filter lands in PartitionFilters,
    # not a post-scan Filter: only Gene directories are read
    assert "PartitionFilters" in plan
    assert "class" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == 3


def test_materialize_wide(spark, job, tmp_path):
    from db_migration_spark.migrate import materialize_wide

    out = materialize_wide(
        spark,
        job._path("datoms_patched"),
        job._path("schema"),
        str(tmp_path / "wide"),
    )
    assert set(out) == {"Gene", "Protein", "Homology_group"}
    gene = spark.read.parquet(out["Gene"])
    rows = {r["e"]: r for r in gene.collect()}
    assert len(rows) == 2
    idents = {r["Gene/Identity"] for r in rows.values()}
    assert idents == {"g-one-renamed", "g-two"}
    homol = spark.read.parquet(out["Homology_group"]).collect()
    assert homol[0]["Homology_group/Member"] == ["G1"]  # card-many array
