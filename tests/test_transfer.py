"""End-to-end transfer pipeline tests — mechanizing the checks the
reference does by log-reading (SURVEY.md §5 point 4)."""

from __future__ import annotations

import json
import os

import pytest

from postgresql_transfer_tool_spark.catalog import TABLES, fixture_catalog
from postgresql_transfer_tool_spark.transfer import TransferPipeline


@pytest.fixture(scope="module")
def report_and_target(spark, sf_dir, tmp_path_factory):
    target = str(tmp_path_factory.mktemp("transfer_target"))
    pipeline = TransferPipeline(
        spark, sf_dir, target, exclude=("embeddings",), max_parallel_tables=4
    )
    return pipeline.run(), target


def test_all_tables_copied_or_excluded(report_and_target):
    report, _ = report_and_target
    assert set(report.results) == set(TABLES)
    assert report.results["embeddings"].status == "skipped_excluded"
    copied = [t for t, r in report.results.items() if r.status == "copied"]
    assert len(copied) == len(TABLES) - 1


def test_row_counts_validated(report_and_target):
    report, _ = report_and_target
    for t, r in report.results.items():
        if r.status == "copied":
            assert r.source_rows == r.target_rows > 0, (t, r)


def test_constraints_clean_on_fixture(report_and_target):
    report, _ = report_and_target
    assert report.ok
    for r in report.results.values():
        assert r.pk_violations == 0
        assert all(v == 0 for v in r.fk_orphans.values()), r


def test_per_phase_timings_recorded(report_and_target):
    report, _ = report_and_target
    for t, r in report.results.items():
        if r.status == "copied":
            assert r.copy_s > 0 and r.validate_s > 0, (t, r)


def test_fk_ddl_emitted(report_and_target):
    report, _ = report_and_target
    # lineitem has 3 FK edges; embeddings excluded so 7 - 0 = 7 edges total
    assert any("ALTER TABLE" in s and "FOREIGN KEY" in s for s in report.fk_ddl)
    assert any("lineitem" in s for s in report.fk_ddl)


def test_sequence_manifest_written(report_and_target, spark):
    report, target = report_and_target
    path = os.path.join(target, "_sequences.json")
    assert os.path.exists(path)
    with open(path) as f:
        seqs = json.load(f)
    assert seqs.get("orders.o_orderkey", 0) > 1
    assert seqs.get("events.event_id", 0) > 1


def test_failed_table_leaves_no_partial_target(spark, sf_dir, tmp_path):
    """K6 rollback analog: a table that fails mid-copy must not appear in
    the target."""
    target = str(tmp_path / "t2")

    class FailingPipeline(TransferPipeline):
        def _copy_table(self, name):
            if name == "orders":
                import postgresql_transfer_tool_spark.transfer as tr

                res = tr.TableResult(name, "failed", error="injected")
                return res
            return super()._copy_table(name)

    report = FailingPipeline(
        spark, sf_dir, target, exclude=tuple(t for t in TABLES if t not in ("orders", "region", "nation"))
    ).run()
    assert report.results["orders"].status == "failed"
    assert not os.path.exists(os.path.join(target, "orders.parquet"))
    # other tables unaffected (error isolation O8)
    assert report.results["region"].status == "copied"


def test_orphan_detection_catches_seeded_violation(spark, sf_dir, tmp_path):
    """C4 validator: corrupt the target's parent table and re-validate."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "t3")
    pipeline = TransferPipeline(
        spark, sf_dir, target,
        exclude=tuple(t for t in TABLES if t not in ("region", "nation")),
    )
    report = pipeline.run()
    assert report.ok
    # drop a referenced region row, then re-run phase-3 style validation
    region = spark.read.parquet(os.path.join(target, "region.parquet"))
    nation = spark.read.parquet(os.path.join(target, "nation.parquet"))
    broken_region = region.filter(F.col("r_regionkey") != 0)
    orphans = (
        nation.select("n_regionkey")
        .join(broken_region, nation.n_regionkey == broken_region.r_regionkey, "left_anti")
        .count()
    )
    assert orphans > 0  # the validator sees what FK enforcement would reject


def test_reflected_unique_and_check_constraints_validated(spark, sf_dir, tmp_path):
    """C2/C3 driven from TableInfo — the shape reflect_catalog populates
    from a live information_schema: a holding UNIQUE, a holding CHECK,
    and a deliberately-violated CHECK must all be audited."""
    from postgresql_transfer_tool_spark.catalog import TableInfo

    target = str(tmp_path / "t4")
    catalog = {
        "nation": TableInfo(
            name="nation",
            primary_key=("n_nationkey",),
            unique=(("n_name",),),
            checks=("n_regionkey >= 0",),
        ),
        "lineitem": TableInfo(
            name="lineitem",
            checks=("l_quantity <= 25",),  # violated by the fixture
        ),
    }
    report = TransferPipeline(
        spark, sf_dir, target,
        exclude=tuple(t for t in TABLES if t not in ("nation", "lineitem")),
        catalog=catalog,
    ).run()
    nation = report.results["nation"]
    assert nation.unique_violations == {"n_name": 0}
    assert nation.check_violations == {"n_regionkey >= 0": 0}
    li = report.results["lineitem"]
    assert li.check_violations["l_quantity <= 25"] > 0
    assert not report.ok  # a violated reflected CHECK fails the run


def test_topo_order_available_for_fk_targets():
    from postgresql_transfer_tool_spark.catalog import topo_sort_tables

    order = topo_sort_tables(fixture_catalog())
    assert order.index("region") < order.index("nation") < order.index("customer")


def test_append_mode_compatible_accumulates(spark, sf_dir, tmp_path):
    target = str(tmp_path / "tgt")
    not_region = tuple(t for t in TABLES if t != "region")
    r1 = TransferPipeline(spark, sf_dir, target, exclude=not_region).run()
    assert r1.results["region"].status == "copied"
    n = r1.results["region"].target_rows
    r2 = TransferPipeline(
        spark, sf_dir, target, exclude=not_region, mode="append"
    ).run()
    res = r2.results["region"]
    assert res.status == "copied"
    assert res.schema_issues == []
    assert res.source_rows == n
    assert res.target_rows == 2 * n
    # re-loading the same rows duplicates the PK — the audit must say so
    assert res.pk_violations > 0
    assert not r2.ok


def test_append_mode_refuses_narrowing_target(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    target = str(tmp_path / "tgt")
    not_region = tuple(t for t in TABLES if t != "region")
    TransferPipeline(spark, sf_dir, target, exclude=not_region).run()
    # sabotage the target: narrow the key column (source is int32)
    import shutil

    path = f"{target}/region.parquet"
    tmp = f"{target}/region.narrowed"
    spark.read.parquet(path).withColumn(
        "r_regionkey", F.col("r_regionkey").cast("smallint")
    ).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)
    r = TransferPipeline(
        spark, sf_dir, target, exclude=not_region, mode="append"
    ).run()
    res = r.results["region"]
    assert res.status == "skipped_incompatible"
    assert any(
        i["column"] == "r_regionkey" and i["verdict"] == "narrowing"
        for i in res.schema_issues
    )
    assert not r.ok
    # the incompatible target is untouched (pre-flight runs before any write)
    untouched = spark.read.parquet(path)
    assert untouched.count() == spark.read.parquet(f"{sf_dir}/region.parquet").count()
    assert dict(untouched.dtypes)["r_regionkey"] == "smallint"


def test_append_mode_rejects_bad_mode(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError):
        TransferPipeline(spark, sf_dir, str(tmp_path), mode="merge")


def test_copy_after_skipped_append_completes(spark, sf_dir, tmp_path):
    """A copy that registers its row-count observation but never writes
    (an append skipped by the schema pre-flight) must not block later
    copies of the same table in the session."""
    import threading

    from pyspark.sql import functions as F

    target = str(tmp_path / "tgt")
    not_region = tuple(t for t in TABLES if t != "region")
    TransferPipeline(spark, sf_dir, target, exclude=not_region).run()
    path = f"{target}/region.parquet"
    spark.read.parquet(path).withColumn(
        "r_regionkey", F.col("r_regionkey").cast("smallint")
    ).write.mode("overwrite").parquet(f"{target}/narrowed")
    import shutil

    shutil.rmtree(path)
    os.rename(f"{target}/narrowed", path)
    skipped = TransferPipeline(
        spark, sf_dir, target, exclude=not_region, mode="append"
    ).run()
    assert skipped.results["region"].status == "skipped_incompatible"

    reports = []
    worker = threading.Thread(
        target=lambda: reports.append(
            TransferPipeline(spark, sf_dir, str(tmp_path / "fresh"), exclude=not_region).run()
        ),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive(), "copy blocked on a stale row-count observation"
    assert reports[0].results["region"].status == "copied"
