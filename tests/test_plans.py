"""Physical-plan audits: the plans we'd want at 100 TB, not just plans
that pass. Checks predicate pushdown into parquet scans, column pruning,
broadcast joins on small dims, and whole-stage codegen presence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspider_spark import queries as Q

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_linenumber") <= 2).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_linenumber,2)" in plan.replace(" ", "")


def test_column_pruning(spark):
    """A 2-column projection must not read all 16 lineitem columns."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = plan_of(li.select("l_orderkey", "l_quantity"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_broadcast_join_on_small_dim(spark):
    plan = plan_of(Q.REGISTRY["j1_broadcast_enrich"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_anti_join_strategy(spark):
    plan = plan_of(Q.REGISTRY["q7_seen_antijoin"].fn(spark, SF))
    assert "LeftAnti" in plan


def test_whole_stage_codegen_in_text_ops(spark):
    """Text analysis is pure Column expressions → codegen, no Python."""
    plan = plan_of(Q.REGISTRY["t_quality_score"].fn(spark, SF))
    # formatted explain marks codegen'd operators with a leading '*'
    assert "* " in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python marker
    assert "ArrowEvalPython" not in plan  # not even a pandas UDF here


def test_pop_ranking_has_no_python(spark):
    """The engine's pop operator is pure windows and joins: nothing
    Python in the plan, on both the exact and the salted path."""
    from pyspider_spark import scheduler
    from pyspider_spark.schemas import CONFIG, FRONTIER

    frontier = spark.createDataFrame([], FRONTIER)
    config = spark.createDataFrame([], CONFIG)
    popped = scheduler.popped_via_thresholds(frontier, config, big_hosts=["big"])
    plan = plan_of(popped)
    assert "EvalPython" not in plan
    assert "Window" in plan


def test_exact_dedup_partial_aggregates(spark):
    """Exact dedup groupBy must partial-aggregate map-side (two
    HashAggregate nodes around the exchange)."""
    plan = plan_of(Q.REGISTRY["d_exact_dedup"].fn(spark, SF))
    assert plan.count("HashAggregate") >= 2
