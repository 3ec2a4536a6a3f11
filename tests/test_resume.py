"""Checkpoint/resume with per-partition lineage (S8/F5, north rule):
kill after a partial commit, rerun, only missing cells recompute."""

import re

from pyspark.sql import functions as F

from tests.conftest import T_BBOX_Z16, T_SHAPE_Z16
from tilegrab_spark.plans.lineage import MetricsStore, new_run_id
from tilegrab_spark.plans.pipeline import Engine
from tilegrab_spark.operators.tiles import tiles_for
from tilegrab_spark.sources.images import read_image_table


def test_metrics_roundtrip_and_summary(spark, tmp_path, t_geom, image_table):
    ms = MetricsStore(spark, str(tmp_path / "metrics"))
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    ms.append_stage(tiles, run_id="r1", stage="plan")
    m = ms.read()
    assert m.count() > 0
    assert set(r.cell_id for r in m.collect()) == set(
        (16 << 58) | (x << 29) | y for x, y in T_SHAPE_Z16
    )
    s = ms.summary().collect()[0]
    assert s.stage == "plan" and s.cells == 7 and s.status == "SUCCESS"


def test_resume_skips_committed_cells(spark, tmp_path, t_geom, image_table):
    ms = MetricsStore(spark, str(tmp_path / "metrics"))
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    # first run commits 4 of 7 cells, then "dies"
    partial = tiles.filter(F.col("x") <= 47440)
    assert partial.count() == 5
    ms.append_stage(partial, run_id="r1", stage="fetch")
    # rerun: resume filter leaves exactly the other 2 cells
    remaining = ms.resume_filter(tiles, "fetch")
    got = set((r.x, r.y) for r in remaining.collect())
    assert got == {(47441, 31441), (47442, 31441)}
    # completing them empties the work list
    ms.append_stage(remaining, run_id="r2", stage="fetch")
    assert ms.resume_filter(tiles, "fetch").count() == 0
    # a different stage is unaffected
    assert ms.resume_filter(tiles, "mosaic").count() == 7


def test_failed_status_is_retried(spark, tmp_path, t_geom):
    ms = MetricsStore(spark, str(tmp_path / "metrics"))
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    ms.append_stage(tiles.limit(3), run_id="r1", stage="fetch", status="FAILED")
    # FAILED cells are NOT treated as committed -> retried on resume
    assert ms.resume_filter(tiles, "fetch").count() == 7


def test_engine_end_to_end_resume(spark, tmp_path, t_geom, image_table):
    eng = Engine(spark, metrics_path=str(tmp_path / "metrics"), run_id=new_run_id())
    tiles = tiles_for(spark, t_geom, 16, by="shape")
    joined = eng.fetch(tiles, image_table)
    mos = eng.mosaic(joined, group_w=2, group_h=2, full_groups_only=False)
    eng.write(mos, str(tmp_path / "mosaics"), stage="mosaic")
    data = spark.read.parquet(str(tmp_path / "mosaics"))
    # the 7 shape tiles fall in exactly 3 of the 2x2 groups
    n_groups = data.count()
    assert n_groups == 3
    # lineage covers every group cell; a rerun's work plan is empty
    work = data.select(
        (
            F.shiftleft(F.col("z").cast("long"), 58)
            .bitwiseOR(F.shiftleft(F.col("tminx").cast("long"), 29))
            .bitwiseOR(F.col("tminy").cast("long"))
        ).alias("cell_id")
    )
    assert eng.metrics.resume_filter(work, "mosaic").count() == 0
    # lineage bytes track the written payload
    s = eng.metrics.summary().filter(F.col("stage") == "mosaic").collect()[0]
    assert s.cells == n_groups and s.bytes > 0


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted by the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-{new_run_id()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_reads_back_with_the_written_schema(spark, tmp_path, t_geom, image_table):
    """A write runs the data commit (the tile broadcast and the write)
    and the lineage commit (its aggregation's shuffle stage and write),
    and no job to infer the schema of the rows it reads back."""
    eng = Engine(spark, metrics_path=str(tmp_path / "metrics"))
    images = read_image_table(spark, image_table)
    joined = eng.fetch(tiles_for(spark, t_geom, 16, by="bbox"), images)
    committed, n = _jobs(spark, lambda: eng.write(joined, str(tmp_path / "f"), stage="fetch"))
    assert n <= 4
    assert committed.schema == spark.read.parquet(str(tmp_path / "f")).schema
    assert committed.count() == joined.count()


def test_resumed_fetch_and_write_jobs(spark, tmp_path, t_geom, image_table):
    """Resuming adds no schema-inference job for the lineage table and
    no shuffle for its committed cells."""
    images = read_image_table(spark, image_table)
    metrics, out = str(tmp_path / "metrics"), str(tmp_path / "f")
    first = Engine(spark, metrics_path=metrics)
    first.write(first.fetch(tiles_for(spark, t_geom, 16, by="shape"), images), out, stage="fetch")

    eng = Engine(spark, metrics_path=metrics)
    tiles = tiles_for(spark, t_geom, 16, by="bbox")
    committed, n = _jobs(
        spark, lambda: eng.write(eng.fetch(tiles, images, resume=True), out, stage="fetch")
    )
    assert n <= 5
    got = {(r.x, r.y) for r in committed.collect()}
    # the bbox minus the committed shape cells and the fixture's gap cell
    assert got == {(x, y) for x, y in T_BBOX_Z16 if (x, y) not in T_SHAPE_Z16} - {(47441, 31442)}


def test_resume_filter_plans_without_aggregate_or_shuffle(spark, tmp_path, t_geom):
    ms = MetricsStore(spark, str(tmp_path / "metrics"))
    tiles = tiles_for(spark, t_geom, 16, by="bbox")
    # two runs commit overlapping cells: duplicate keys on the right side
    ms.append_stage(tiles.filter(F.col("x") <= 47440), run_id="r1", stage="fetch")
    ms.append_stage(tiles.filter(F.col("y") <= 31442), run_id="r2", stage="fetch")
    remaining = ms.resume_filter(tiles, "fetch")
    plan = remaining._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan)
    assert sorted((r.x, r.y) for r in remaining.collect()) == [
        (x, y) for x, y in T_BBOX_Z16 if x > 47440 and y > 31442
    ]
