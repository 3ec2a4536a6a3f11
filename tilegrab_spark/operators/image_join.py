"""J1: tiles ⋈ image table (the reference's load_images nested loop,
images/loader.py:15-38, which is O(T×F)) re-expressed as a hash equi-join
on the tile key — plus explicit skew salting for dense cells (north
rule). The resume anti-join (F5) is ``MetricsStore.resume_filter``.

Join-strategy policy (SURVEY.md §2.4/§4):
- ``broadcast_tiles=True`` (default for per-query tile sets bounded by
  safe_limit): broadcast-hash join — the 100 TB image table is scanned
  once, NO shuffle at all, and skewed cells cannot hurt because there is
  no shuffle partitioning by key. Only an inner join gets this plan: a
  left outer join must keep every tile, so Spark cannot broadcast the
  tile side and falls back to a sort-merge join that shuffles the whole
  image table. Callers that need the unmatched tiles (the mosaic's
  extent) union the tile set back in instead.
- big tile sets: shuffled join on (z,x,y); AQE skew-join splits oversized
  partitions at runtime, and ``salt > 1`` adds explicit pre-salting —
  images get ``pmod(xxhash64(image_id), salt)``, tiles explode over
  0..salt-1, so one hot cell spreads over ``salt`` reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

JOIN_KEY = ["z", "x", "y"]


def join_images(
    tiles_df: DataFrame,
    images_df: DataFrame,
    *,
    how: str = "inner",
    broadcast_tiles: bool = True,
    salt: int = 1,
) -> DataFrame:
    """Keyed fetch: each wanted tile picks up its stored image rows.

    ``how='inner'`` ≙ the reference's "first match wins" loader (every
    match is kept here — dedup to one row per tile is a downstream
    ``row_number`` if wanted); ``how='left'`` keeps un-stored tiles as
    missing (they render black in the mosaic, mosaic.py:20) at the cost
    of a sort-merge join, since the broadcast hint cannot apply to the
    preserved side.
    """
    t = tiles_df
    i = images_df
    if salt > 1:
        i = i.withColumn("_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt)).cast("int"))
        t = t.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        key = JOIN_KEY + ["_salt"]
    else:
        key = JOIN_KEY
    if broadcast_tiles:
        t = F.broadcast(t)
    joined = t.join(i, on=key, how=how)
    return joined.drop("_salt") if salt > 1 else joined


def identify_hot_cells(
    images_df: DataFrame, *, threshold: int = 10_000, via: str = "groupby"
) -> DataFrame:
    """Cheap pre-pass (SURVEY.md §4): per-cell row counts over the image
    table, keeping cells above ``threshold`` — the dense-urban keys that
    need explicit salting. Scans only the join-key columns (parquet
    prunes everything else).

    ``via="groupby"`` (default): map-side-combined count — the exchange
    carries one row per DISTINCT cell, fine up to ~10^9 distinct keys.
    ``via="mg"``: the exact heavy-hitters path
    (``operators/heavyhitters.py`` — per-partition Misra-Gries
    candidates over the packed cell key + broadcast-semi-join verify):
    the exchange is bounded by partitions x capacity regardless of key
    cardinality — the right shape when the distinct-cell count itself
    is shuffle-dominating. Both return the same exact result.

    Capacity caveat: MG's per-partition state is ~2 x N/threshold
    counters, so ``via="mg"`` fits SKEW detection (threshold a
    meaningful fraction of the table — a few dominant keys); for
    sub-ppm absolute thresholds over 10^12 rows the groupby count is
    the cheaper exact path."""
    if via == "mg":
        from tilegrab_spark.operators.heavyhitters import heavy_hitters
        from tilegrab_spark.sources.images import cell_id_col

        packed = images_df.select(
            cell_id_col(*JOIN_KEY).alias("_cell_key")
        )
        hh = heavy_hitters(packed, "_cell_key", min_count=threshold)
        mask29 = (1 << 29) - 1
        return hh.select(
            F.shiftrightunsigned(F.col("_cell_key"), 58).cast("int").alias("z"),
            F.shiftrightunsigned(F.col("_cell_key"), 29)
            .bitwiseAND(F.lit(mask29))
            .alias("x"),
            F.col("_cell_key").bitwiseAND(F.lit(mask29)).alias("y"),
            F.col("cnt").alias("n_rows"),
        )
    if via != "groupby":
        raise ValueError(f"via must be 'groupby' or 'mg', got {via!r}")
    return (
        images_df.groupBy(*JOIN_KEY)
        .count()
        .filter(F.col("count") >= threshold)
        .select(*JOIN_KEY, F.col("count").alias("n_rows"))
    )


def join_images_skew_aware(
    tiles_df: DataFrame,
    images_df: DataFrame,
    *,
    how: str = "inner",
    hot_threshold: int = 10_000,
    salt: int = 16,
    hot_cells: DataFrame | None = None,
) -> DataFrame:
    """Hybrid skew join: hot cells (from ``identify_hot_cells`` or a
    provided stats table) go through the salted path — tiles exploded
    over 0..salt-1, images salted by xxhash64 — while the cold majority
    takes the plain broadcast join. No salt-explosion cost on the 99.9%
    of cells that don't need it; the union is the complete J1 result.

    ``how`` must be 'inner' (left-semantics would double-count unmatched
    tiles across the two branches).

    When to use: only when a key's row count overwhelms a single reducer
    (memory/stragglers). Measured at sandbox scale the pre-pass + dual
    join costs MORE than plain + AQE skew-split (3.4s vs 1.5s on a
    2000-dup key) — this is the 10^12-scale escape hatch, not a default.
    Reuse a precomputed ``hot_cells`` stats table across queries to
    amortize the pre-pass."""
    if how != "inner":
        raise ValueError("skew-aware join supports how='inner' only")
    hot = F.broadcast(
        (hot_cells if hot_cells is not None else identify_hot_cells(images_df, threshold=hot_threshold))
        .select(*JOIN_KEY)
    )
    tiles_hot = tiles_df.join(hot, on=JOIN_KEY, how="left_semi")
    tiles_cold = tiles_df.join(hot, on=JOIN_KEY, how="left_anti")
    images_hot = images_df.join(hot, on=JOIN_KEY, how="left_semi")
    hot_joined = join_images(
        tiles_hot, images_hot, how="inner", broadcast_tiles=False, salt=salt
    )
    cold_joined = join_images(tiles_cold, images_df, how="inner", broadcast_tiles=True)
    return hot_joined.unionByName(cold_joined)


def first_match_per_tile(joined: DataFrame) -> DataFrame:
    """Parity mode for loader.py:34 (``break`` after first file match):
    keep one deterministic image row per (geom_id, z, x, y)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("geom_id", "z", "x", "y").orderBy("image_id")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

