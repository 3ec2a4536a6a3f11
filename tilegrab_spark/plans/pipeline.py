"""Engine facade — the programmatic API mirroring the reference's
GeoDataset → TilesByShape → Downloader → mosaic → export flow
(SURVEY.md §3 E1-E3) as one lazy DataFrame DAG with checkpointed stages.

    eng = Engine(spark)
    tiles  = eng.tiles_for(geom, zoom=16, by="shape")        # J2 semi-join
    joined = eng.fetch(tiles, images_path)                    # J1 keyed fetch
    mosaics = eng.mosaic(joined, group_w=2)                   # A2/W1 reducer
    written = eng.write(mosaics, out_path, stage="mosaic")    # sink + lineage

Every ``write`` commits data + per-cell lineage and returns the committed
rows of this run, so later sinks read the commit instead of re-running
the plan; re-running ``fetch`` with ``resume=True`` anti-joins away
committed cells (kill/resume story).

Request-sized calls pay few fixed Spark jobs: tables the engine wrote
are read back with the schema it wrote (no schema-inference job), and
the resume anti-join broadcasts the committed lineage rows without a
shuffle (plans/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tilegrab_spark.operators.image_join import join_images
from tilegrab_spark.operators.mosaic import mosaic as mosaic_op
from tilegrab_spark.operators.tiles import DEFAULT_SAFE_LIMIT, tiles_for
from tilegrab_spark.plans.lineage import MetricsStore, new_run_id
from tilegrab_spark.sources.geometries import GeometrySet
from tilegrab_spark.sources.images import cell_id_col, read_image_table


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        *,
        metrics_path: str | None = None,
        run_id: str | None = None,
        metrics_format: str = "append",
    ):
        self.spark = spark
        self.run_id = run_id or new_run_id()
        if not metrics_path:
            self.metrics = None
        elif metrics_format == "snapshot":
            # Iceberg-style snapshot isolation: a killed job resumes
            # from the last *committed* snapshot (plans/snapshots.py).
            from tilegrab_spark.plans.snapshots import SnapshotMetricsStore

            self.metrics = SnapshotMetricsStore(spark, metrics_path)
        elif metrics_format == "append":
            self.metrics = MetricsStore(spark, metrics_path)
        else:
            raise ValueError(f"unknown metrics_format {metrics_format!r}")

    # --- stage 1: tile selection (E1 steps 3-4) ---
    def tiles_for(
        self,
        geom: GeometrySet,
        zoom: int,
        *,
        by: str = "shape",
        invert: bool = False,
        safe_limit: int | None = DEFAULT_SAFE_LIMIT,
        buffer_m: float = 0.0,
    ) -> DataFrame:
        # buffer_m: REAL buffered selection (the reference's
        # Dataset.buffer at dataset.py:71-73 discards its result —
        # SURVEY §8 Q7; here buffering actually widens the tile set)
        return tiles_for(
            self.spark, geom, zoom, by=by, invert=invert,
            safe_limit=safe_limit, buffer_m=buffer_m,
        )

    # --- stage 2: keyed fetch (E1 step 5 / E3 load_images) ---
    def fetch(
        self,
        tiles_df: DataFrame,
        images: DataFrame | str,
        *,
        how: str = "inner",
        resume: bool = False,
    ) -> DataFrame:
        if isinstance(images, str):
            images = read_image_table(self.spark, images)
        if resume and self.metrics is not None:
            tiles_df = self.metrics.resume_filter(tiles_df, "fetch")
        return join_images(
            tiles_df,
            images.drop("min_lon", "min_lat", "max_lon", "max_lat", "cell_id"),
            how=how,
        )

    # --- stage 3: stitch (E1 step 6) ---
    def mosaic(self, joined: DataFrame, **kw) -> DataFrame:
        return mosaic_op(joined, **kw)

    # --- sinks (S5-S8) ---
    def write(
        self,
        df: DataFrame,
        path: str,
        *,
        stage: str,
    ) -> DataFrame:
        """Durable stage commit: data parquet first (its _SUCCESS is the
        snapshot), then per-cell lineage to the metrics table.

        Returns the committed rows of this run (a lazy read of ``path``
        filtered to this run's ``_run_id``), so further sinks read the
        commit instead of re-running ``df``'s plan. The read uses the
        schema just written: it runs no schema-inference job, and rows
        other runs appended to ``path`` with other columns (a plan-mode
        table, say) cannot change it."""
        out = df
        if "cell_id" not in out.columns:
            if {"z", "gx", "gy"} <= set(out.columns):
                # mosaic outputs: lineage cell = the group's anchor tile
                out = out.withColumn("cell_id", cell_id_col("z", "tminx", "tminy"))
            elif {"z", "x", "y"} <= set(out.columns):
                out = out.withColumn("cell_id", cell_id_col("z", "x", "y"))
        out = out.withColumn("_run_id", F.lit(self.run_id))
        out.write.mode("append").parquet(path)
        committed = self.spark.read.schema(out.schema).parquet(path).filter(
            F.col("_run_id") == self.run_id
        )
        if self.metrics is not None and "cell_id" in out.columns:
            # lineage from the COMMITTED files (this run's rows only) so a
            # crash between data write and metrics write under-reports,
            # never over-reports — resume then redoes, not skips, work.
            self.metrics.append_stage(
                committed,
                run_id=self.run_id,
                stage=stage,
                bytes_col="bytes" if "bytes" in out.columns else None,
            )
        return committed
