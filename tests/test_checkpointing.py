"""The fixed-point driver and CheckpointCycler ownership: the driver
places one barrier and one job per round and keeps one generation;
the cycler frees exactly the generations it claimed through
``cycle(df)`` and can never touch a concurrent persist on the same
session (the round-3 verdict's shared-session hazard, closed by the
ownership model)."""

from __future__ import annotations

import math
import os
import uuid

import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.graph.checkpointing import (
    CheckpointCycler,
    _persistent_rdd_ids,
    checkpoint_rdd_ids,
    fixed_point,
)


def _jobs_in_group(spark, fn):
    """(fn(), ids of the Spark jobs fn ran) via a private job group."""
    sc = spark.sparkContext
    group = f"fixed-point-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("max_steps,barrier_every", [(5, 1), (5, 2), (6, 3)])
def test_fixed_budget_places_one_job_per_barrier(
    spark, max_steps, barrier_every
):
    start = spark.range(100).selectExpr("id")
    seen: list[dict] = []
    (state, steps, converged, measures), jobs = _jobs_in_group(
        spark,
        lambda: fixed_point(
            start,
            lambda d: d.selectExpr("id + 1 AS id"),
            max_steps=max_steps,
            barrier_every=barrier_every,
            on_iteration=seen.append,
        ),
    )
    barriers = math.ceil(max_steps / barrier_every)
    assert (steps, converged) == (max_steps, False)
    assert measures == [100] * barriers
    # a narrow step plans no job; each barrier's measure is exactly one
    assert len(jobs) == barriers, jobs
    # the hook fires once per barrier with the driver's keys
    assert len(seen) == barriers
    assert all(set(i) == {"iteration", "wall_sec", "measure"} for i in seen)
    assert [i["iteration"] for i in seen] == [
        min(max_steps, barrier_every * (b + 1)) for b in range(barriers)
    ]
    assert sorted(r.id for r in state.collect()) == list(
        range(max_steps, max_steps + 100)
    )


def test_converged_stops_and_returns_materialized_generation(spark):
    before = _persistent_rdd_ids(spark)
    state, steps, converged, measures = fixed_point(
        spark.range(10).selectExpr("id"),
        lambda d: d.selectExpr("id DIV 2 AS id").distinct(),
        max_steps=50,
        converged=lambda prev, cur: cur == prev,
    )
    assert (steps, converged, measures) == (5, True, [5, 3, 2, 1, 1])
    # the returned state is the generation the last measure ran on:
    # still registered (never released by the loop), and the only
    # generation of the run left registered
    ids = checkpoint_rdd_ids(state)
    assert _persistent_rdd_ids(spark) - before == ids
    assert [r.id for r in state.collect()] == [0]


def test_zero_budget_returns_input(spark):
    start = spark.range(3).selectExpr("id")
    assert fixed_point(start, lambda d: d, max_steps=0) == (start, 0, False, [])


def test_reliable_mode_keeps_one_generation(spark, tmp_path):
    seen: list[dict] = []
    state, steps, converged, _ = fixed_point(
        spark.range(50).selectExpr("id"),
        lambda d: d.selectExpr("id + 1 AS id"),
        max_steps=4,
        reliable_dir=str(tmp_path / "gen"),
        on_iteration=seen.append,
    )
    assert (steps, converged) == (4, False)
    # superseded generations are deleted as the loop advances
    assert os.listdir(tmp_path) == ["gen-0004"]
    assert [i["checkpoint_dir"] for i in seen] == [
        str(tmp_path / f"gen-{n:04d}") for n in range(1, 5)
    ]
    assert all(i["ckpt_mb"] >= 0 for i in seen)
    assert sorted(r.id for r in state.collect()) == list(range(4, 54))


def test_checkpoint_rdd_ids_match_registration(spark):
    before = _persistent_rdd_ids(spark)
    df = spark.range(100).selectExpr("id", "id * 2 AS y")
    cdf = df.localCheckpoint(eager=False)
    ids = checkpoint_rdd_ids(cdf)
    assert len(ids) == 1
    # the claimed id is the one the registration map just gained
    assert ids <= _persistent_rdd_ids(spark) - before
    cdf.unpersist()


def test_checkpoint_rdd_ids_rejects_plain_df(spark):
    # a non-checkpointed DataFrame must be refused loudly — silently
    # claiming nothing would defeat the block release
    with pytest.raises(ValueError, match="checkpointed"):
        checkpoint_rdd_ids(spark.range(10).selectExpr("id"))


def test_cycle_requires_dataframe(spark):
    cycler = CheckpointCycler(spark)
    with pytest.raises(TypeError, match="checkpointed DataFrame"):
        cycler.cycle()


def test_cycle_frees_previous_generation_only(spark):
    cycler = CheckpointCycler(spark)
    g1 = spark.range(50).localCheckpoint(eager=True)
    cycler.cycle(g1)
    g1_ids = checkpoint_rdd_ids(g1)
    assert g1_ids <= _persistent_rdd_ids(spark)

    g2 = g1.withColumn("y", F.col("id") + 1).localCheckpoint(eager=True)
    cycler.cycle(g2)
    # generation 1 released, generation 2 live
    assert not (g1_ids & _persistent_rdd_ids(spark))
    assert checkpoint_rdd_ids(g2) <= _persistent_rdd_ids(spark)
    assert g2.count() == 50
    g2.unpersist()


def test_concurrent_persist_survives_cycling(spark):
    # a checkpoint created BETWEEN two cycle() calls by a concurrent
    # query on the same session must survive the loop's cycling — the
    # old diff-based cycler would have claimed and freed it
    cycler = CheckpointCycler(spark)
    loop_df = spark.range(40).localCheckpoint(eager=True)
    cycler.cycle(loop_df)

    bystander = (
        spark.range(1000)
        .selectExpr("id", "id % 7 AS k")
        .localCheckpoint(eager=True)
    )
    bystander_ids = checkpoint_rdd_ids(bystander)

    for _ in range(3):
        loop_df = loop_df.withColumn(
            "id", F.col("id") + 1
        ).localCheckpoint(eager=True)
        cycler.cycle(loop_df)

    # the bystander is still registered AND still fully readable
    assert bystander_ids <= _persistent_rdd_ids(spark)
    assert bystander.count() == 1000
    assert loop_df.count() == 40
    bystander.unpersist()
    loop_df.unpersist()


def test_multi_state_generation(spark):
    # BFS-style loops claim several DataFrames per round; the whole
    # set is freed together on the next cycle
    cycler = CheckpointCycler(spark)
    a1 = spark.range(10).localCheckpoint(eager=True)
    b1 = spark.range(20).localCheckpoint(eager=True)
    cycler.cycle(a1, b1)
    gen1 = checkpoint_rdd_ids(a1) | checkpoint_rdd_ids(b1)

    a2 = a1.selectExpr("id + 1 AS id").localCheckpoint(eager=True)
    b2 = b1.selectExpr("id + 1 AS id").localCheckpoint(eager=True)
    cycler.cycle(a2, b2)
    assert not (gen1 & _persistent_rdd_ids(spark))
    assert a2.count() == 10 and b2.count() == 20
    a2.unpersist()
    b2.unpersist()
