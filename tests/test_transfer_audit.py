"""The transfer pipelines' one-pass audits: ``audit_table`` against the
single-constraint audits on planted rows, the batched FK audit through
a whole pipeline run, and the pipeline's Spark job budget."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from postgresql_transfer_tool_spark.catalog import TABLES, TableInfo, load_table
from postgresql_transfer_tool_spark.transfer import (
    TransferPipeline,
    audit_check,
    audit_primary_key,
    audit_table,
    audit_unique,
)

SCHEMA = "a int, b int, u string, q int, s bigint"

#: (a, b) is the compound PK, u is UNIQUE, s is the serial column
ROWS = [
    (1, 1, "x", 5, 10),
    (1, 1, "y", -1, 11),      # duplicate PK (1, 1)
    (2, None, "z", None, 12),  # one PK component NULL; NULL CHECK input
    (None, 3, "x", 7, 13),    # the other component NULL; u 'x' repeated
    (3, 3, "w", -2, None),    # NULL serial value
    (4, 4, None, 0, 9),
    (5, 5, None, 100, 8),     # u NULL twice: grouped like the standalone audit
]

INFO = TableInfo(
    name="t",
    primary_key=("a", "b"),
    unique=(("u",), ("a", "u")),
    checks=("q >= 0", "q < 100"),
    serial_columns=("s",),
)


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_audit_table_matches_standalone_audits(planted):
    res = audit_table(planted, INFO)
    assert res.pk_violations == audit_primary_key(planted, INFO.primary_key) == 3
    assert res.unique_violations == {
        ", ".join(cols): audit_unique(planted, cols) for cols in INFO.unique
    } == {"u": 2, "a, u": 0}
    # q = NULL is unknown, not a violation
    assert res.check_violations == {
        c: audit_check(planted, c) for c in INFO.checks
    } == {"q >= 0": 2, "q < 100": 1}
    assert res.next_sequence_value == 14
    assert res.error is None


def test_audit_table_without_pk_audits_the_rest(planted):
    info = TableInfo(name="t", checks=("q >= 0",), serial_columns=("s",))
    res = audit_table(planted, info)
    assert res.pk_violations == 0
    assert res.check_violations == {"q >= 0": 2}
    assert res.next_sequence_value == 14


def test_malformed_check_stays_isolated(planted):
    bad = "no_such_column > 1"
    info = TableInfo(
        name="t",
        primary_key=INFO.primary_key,
        unique=INFO.unique,
        checks=("q >= 0", bad),
        serial_columns=("s",),
    )
    with pytest.raises(Exception):
        audit_check(planted, bad)
    res = audit_table(planted, info)
    assert res.check_violations == {"q >= 0": 2, bad: -1}
    assert bad in res.error
    assert res.pk_violations == 3
    assert res.unique_violations == {"u": 2, "a, u": 0}
    assert res.next_sequence_value == 14


def test_failed_sequence_resync_sets_error(planted):
    info = TableInfo(name="t", primary_key=("a", "b"), serial_columns=("missing",))
    res = audit_table(planted, info)
    assert res.error.startswith("sequence resync failed")
    assert res.next_sequence_value is None
    assert res.pk_violations == 3


def test_empty_serial_table_next_value_is_one(spark):
    res = audit_table(spark.createDataFrame([], SCHEMA), INFO)
    assert res.next_sequence_value == 1
    assert res.pk_violations == 0
    assert res.unique_violations == {"u": 0, "a, u": 0}
    assert res.check_violations == {"q >= 0": 0, "q < 100": 0}


#: planted lineitem orphans per FK edge: (column, orphan rows, distinct
#: orphan keys); each edge's count differs so a swapped edge shows
ORPHANS = {"l_orderkey": (1, 1), "l_partkey": (3, 2), "l_suppkey": (4, 1)}


def test_pipeline_reports_each_planted_orphan(spark, sf_dir, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for t in ("orders", "part", "supplier"):
        pq.write_table(
            pq.read_table(os.path.join(sf_dir, f"{t}.parquet")),
            str(src / f"{t}.parquet"),
        )
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    planted = [li]
    offset = 0
    for col, (rows, keys) in ORPHANS.items():
        extra = li.slice(offset, rows)
        offset += rows
        ids = [10**9 + i % keys for i in range(rows)]
        idx = extra.schema.get_field_index(col)
        planted.append(extra.set_column(idx, col, pa.array(ids, pa.int64())))
    # a NULL FK references nothing (MATCH SIMPLE): never an orphan
    null_row = li.slice(0, 1)
    idx = null_row.schema.get_field_index("l_partkey")
    planted.append(null_row.set_column(idx, "l_partkey", pa.array([None], pa.int64())))
    pq.write_table(pa.concat_tables(planted), str(src / "lineitem.parquet"))

    report = TransferPipeline(spark, str(src), str(tmp_path / "tgt")).run()
    li_res = report.results["lineitem"]
    assert li_res.status == "copied"
    assert li_res.fk_orphans == {
        f"lineitem.{col}": rows for col, (rows, _keys) in ORPHANS.items()
    }
    assert not report.ok
    # the parents' own edges point at tables outside the source: skipped
    assert report.results["supplier"].fk_orphans == {}


#: Spark jobs of one full TransferPipeline.run() over sf0.001 with warm
#: source handles: 10 copies, 9 table audits and 5 FK audits. The
#: per-call audits it replaced (one collect per PK, UNIQUE, FK edge and
#: serial MAX, plus a re-read count and schema inference per copy)
#: ran 120.
JOB_BUDGET = 54 + 6


def test_pipeline_job_budget(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    for t in TABLES:  # warm the memoized source handles
        load_table(spark, sf_dir, t)
    group = "test_transfer_audit_budget"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        st = sc.statusTracker()
        before = set(st.getJobIdsForGroup(None)) | set(st.getJobIdsForGroup(group))
        report = TransferPipeline(spark, sf_dir, str(tmp_path / "tgt")).run()
        after = set(st.getJobIdsForGroup(None)) | set(st.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert report.ok
    assert len(after - before) <= JOB_BUDGET
