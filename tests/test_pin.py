"""catalog.pin and catalog.hold — the engine's two materialization points.

pin() eagerly checkpoints a multi-consumer intermediate: localCheckpoint in
sessions without a checkpoint dir (local/bench — cheap, no FS round-trip),
RELIABLE checkpoint() when the caller configured one (cluster — survives
executor loss). hold() lazily persists one and the registry releases it
when the next registry build starts. These tests pin the routing, the
release point, and that results are unchanged.
"""

import os

from pyspark import StorageLevel

from unfccc_documents_database_sandbox_spark import catalog
from unfccc_documents_database_sandbox_spark.catalog import pin
from unfccc_documents_database_sandbox_spark.registry import load_all_plans, lookup


def test_pin_local_without_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(0, 100).withColumnRenamed("id", "v")
    pinned = pin(df)
    assert pinned.count() == 100
    assert [r.v for r in pinned.orderBy("v").limit(3).collect()] == [0, 1, 2]
    # localCheckpoint route: lineage truncated to a materialized RDD scan
    # (.rdd would wrap a NEW conversion RDD, so test the plan, not it)
    assert "LogicalRDD" in pinned._jdf.queryExecution().analyzed().toString()


def test_pin_reliable_with_checkpoint_dir(spark, tmp_path):
    ck = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ck)
    try:
        df = spark.range(0, 50)
        pinned = pin(df)
        assert pinned.count() == 50
        # reliable route: RDD blocks written under the checkpoint dir
        files = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(ck)
            for f in fs
        ]
        assert files, "reliable checkpoint wrote nothing under the dir"
    finally:
        # unset for the rest of the session-scoped fixture's consumers
        # (Scala var setter name carries a $, so reach it via getattr)
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None)
        )
    assert spark.sparkContext.getCheckpointDir() is None


def _cached(df) -> bool:
    """True while the session's cache manager holds ``df``'s plan."""
    return df.storageLevel != StorageLevel.NONE


def test_held_frames_live_until_next_registry_build(spark):
    """What a registry build holds stays cached after its result is
    consumed, and is released when the next registry build starts."""
    from tests.conftest import SF_SMOKE

    load_all_plans()
    lookup("join_similarity_prefix").build(spark, SF_SMOKE).collect()
    held = list(catalog._HELD)
    assert held, "join_similarity_prefix holds no intermediates"
    assert all(_cached(df) for df in held)

    lookup("dedup_exact").build(spark, SF_SMOKE).collect()
    assert not any(_cached(df) for df in held)
    assert not any(df in catalog._HELD for df in held)


def test_interleaved_held_builds_stay_correct(spark):
    """Building a key twice before collecting either releases the first
    build's held frames; its plan recomputes them and gives equal rows."""
    from tests.conftest import SF_SMOKE

    load_all_plans()
    first = lookup("dedup_containment").build(spark, SF_SMOKE)
    second = lookup("dedup_containment").build(spark, SF_SMOKE)
    rows1 = sorted(map(tuple, first.collect()))
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2
