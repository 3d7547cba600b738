"""Fixpoint queries: the Spark jobs one build-and-collect costs, and the
recursion confs put back after a recursive CTE.

A job count is read from a ``statusTracker`` job group, so it includes
the eager build-phase jobs (checkpoints, recursion levels) as well as
the final collect. The budgets are the folded forms' counts at
``SF_SMOKE``: the min-plus BFS runs every hop in one stage, and the
recursive CTE pays one job per level with no driver collect between
levels."""

from __future__ import annotations

import uuid

import pytest

from tests.conftest import SF_SMOKE
from zmaxion_spark.queries import REGISTRY

_ROW_LIMIT = "spark.sql.cteRecursionRowLimit"
_ANCHOR_LIMIT = "spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation"


def _jobs(spark, name: str) -> int:
    sc = spark.sparkContext
    group = f"budget-{name}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        REGISTRY[name].fn(spark, SF_SMOKE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name, budget", [("q_shortest_path", 9), ("q_recursive_bom", 33)])
def test_fixpoint_job_budget(spark, name, budget):
    assert _jobs(spark, name) <= budget


def test_recursive_bom_restores_recursion_confs(spark):
    spark.conf.set(_ROW_LIMIT, "1234567")
    try:
        assert spark.conf.get(_ANCHOR_LIMIT, None) is None
        REGISTRY["q_recursive_bom"].fn(spark, SF_SMOKE).collect()
        assert spark.conf.get(_ROW_LIMIT) == "1234567"
        assert spark.conf.get(_ANCHOR_LIMIT, None) is None
    finally:
        spark.conf.unset(_ROW_LIMIT)
