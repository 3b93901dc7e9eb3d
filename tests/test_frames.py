"""Driver-built frames (``functions/frames.py``): Arrow local relations that
run no Spark job, and the one ``createDataFrame`` call in the package."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tidb_large_table_compare_spark.functions.frames import local_frame
from tidb_large_table_compare_spark.operators.compare import CompareOptions
from tidb_large_table_compare_spark.plans.discover import discover
from tidb_large_table_compare_spark.plans.pipeline import CompareJob, run_jobs
from tidb_large_table_compare_spark.plans.report import (
    render_final_report,
    report_totals,
)
from tidb_large_table_compare_spark.sources.catalog import (
    CATALOG_SCHEMA,
    parquet_catalog,
)
from tidb_large_table_compare_spark.sources.tables import TABLES
from tests.conftest import REPO, SF_SMALL

PACKAGE = REPO / "tidb_large_table_compare_spark"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _jobs_run(spark, fn):
    """``fn()``'s result and how many Spark jobs it started."""
    before = _next_job_id(spark)
    out = fn()
    return out, _next_job_id(spark) - before


def test_local_frame_empty_rows(spark):
    df = local_frame(spark, [], "a string, b bigint")
    assert df.columns == ["a", "b"]
    assert df.collect() == []


def test_local_frame_keeps_non_nullable_fields(spark):
    rows = [("main", "orders", 150, "NONCLUSTERED")]
    df = local_frame(spark, rows, CATALOG_SCHEMA)
    assert df.schema == CATALOG_SCHEMA
    assert [tuple(r) for r in df.collect()] == rows
    with pytest.raises(ValueError, match="table_rows"):
        local_frame(spark, [("main", "orders", None, "CLUSTERED")], CATALOG_SCHEMA)


def test_local_frame_ddl_schema(spark):
    df = local_frame(spark, [(1, [2, 3], True), (4, None, None)],
                     "id int, qv array<bigint>, ok boolean")
    assert df.schema.simpleString() == "struct<id:int,qv:array<bigint>,ok:boolean>"
    assert [tuple(r) for r in df.collect()] == [(1, [2, 3], True), (4, None, None)]


def test_local_frame_multibyte_strings(spark):
    texts = ["一致", "差异表", "\U0001F600x", ""]
    df = local_frame(spark, [(t,) for t in texts], "t string")
    got = df.select("t", F.octet_length("t").alias("n")).collect()
    assert [r.t for r in got] == texts
    assert [r.n for r in got] == [len(t.encode("utf-8")) for t in texts]


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, [(i, str(i)) for i in range(5)], "k bigint, v string")
    q = df.filter(F.col("k") > 2).select("v")
    plan = q._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    rows, jobs = _jobs_run(spark, q.collect)
    assert [r.v for r in rows] == ["3", "4"] and jobs == 0


def test_catalog_and_discovery_run_no_jobs(spark):
    catalog, jobs = _jobs_run(spark, lambda: parquet_catalog(spark, SF_SMALL, TABLES))
    found, more = _jobs_run(
        spark, lambda: discover(catalog, row_threshold=0, pk_type=None).collect()
    )
    assert {r.table_name for r in found} == set(TABLES)
    assert jobs == 0 and more == 0


def test_report_over_run_summaries_runs_no_jobs(spark):
    nation = spark.read.parquet(f"{SF_SMALL}/nation.parquet")
    jobs = [
        CompareJob("main.nation", nation, nation, ["n_nationkey"]),
        CompareJob("main.nation_gap", nation, nation.filter(F.col("n_nationkey") != 3),
                   ["n_nationkey"], CompareOptions(chunk_size=5)),
    ]
    run = run_jobs(spark, jobs, parallelism=1, run_ts="20240102_120000")
    lines, n_render = _jobs_run(
        spark, lambda: [r.line for r in render_final_report(run.summaries).collect()]
    )
    totals, n_totals = _jobs_run(spark, lambda: report_totals(run.summaries).collect()[0])
    assert "[INFO] 找到 2 个 summary.txt 文件" in lines
    assert (totals.tables_checked, totals.total_upcount) == (2, 1)
    assert n_render == 0 and n_totals == 0


def _create_dataframe_calls(path: Path) -> list[str]:
    """``file:line`` of every ``*.createDataFrame(...)`` call outside
    ``local_frame``'s own body."""
    tree = ast.parse(path.read_text(), str(path))
    allowed: set[int] = set()
    if path == PACKAGE / "functions" / "frames.py":
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
    return [
        f"{os.path.relpath(path, REPO)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_package_builds_driver_frames_only_through_local_frame(tmp_path):
    """A list-based ``createDataFrame`` is an RDD: every action on it runs a
    job. Driver-built frames go through ``local_frame``, nowhere else."""
    offenders = [c for p in sorted(PACKAGE.rglob("*.py")) for c in _create_dataframe_calls(p)]
    assert offenders == []
    # the walker sees a call wherever it sits, even inside other expressions
    probe = tmp_path / "probe.py"
    probe.write_text("def f(spark):\n    return g(spark.createDataFrame([], 'a int'))\n")
    assert [c.rsplit(":", 1)[1] for c in _create_dataframe_calls(probe)] == ["2"]
