"""The engine-wide materialization policy (session.pin / barrier_level)."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.storagelevel import StorageLevel

import entity_linking_in_biomedical_spark as pkg
from entity_linking_in_biomedical_spark.session import barrier_level, pin


def _pinned_rdd(df):
    """The JVM RDD behind a pinned frame (its plan is one LogicalRDD)."""
    return df._jdf.queryExecution().analyzed().rdd()


def _cached_partitions(spark, rdd) -> int:
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd.id():
            return info.numCachedPartitions()
    return 0


@pytest.fixture
def narrow(spark):
    # no exchange: under AQE, planning a shuffle runs its map stages
    return spark.range(1000, numPartitions=3).selectExpr("id % 7 AS k", "id")


def test_pin_submits_no_job(spark, narrow):
    sc = spark.sparkContext
    sc.setJobGroup("pin-lazy", "lazy pin")
    try:
        pinned = pin(narrow)
        assert sc.statusTracker().getJobIdsForGroup("pin-lazy") == []
        assert _cached_partitions(spark, _pinned_rdd(pinned)) == 0
        assert pinned.count() == 1000  # the first action materializes it
        assert sc.statusTracker().getJobIdsForGroup("pin-lazy")
    finally:
        sc.setJobGroup(None, None)


def test_pin_stores_serialized_memory_and_disk(narrow):
    assert barrier_level() == StorageLevel.MEMORY_AND_DISK
    level = _pinned_rdd(pin(narrow)).getStorageLevel()
    assert level.useMemory() and level.useDisk()
    assert not level.deserialized()
    assert level.replication() == 1


def test_pinned_frame_plans_as_existing_rdd_scan(narrow):
    plan = pin(narrow)._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan


def test_eager_pin_materializes(spark, narrow):
    rdd = _pinned_rdd(pin(narrow, eager=True))
    assert _cached_partitions(spark, rdd) == rdd.getNumPartitions() == 3


def test_only_session_places_barriers():
    """Every lineage barrier in the package goes through session.pin, so
    the materialization policy lives in one module."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert offenders == [], f"use session.pin instead of localCheckpoint: {offenders}"
