"""Geodesic measures — true-on-the-sphere area and perimeter for
vector rings.

Everything upstream measures in pixels or Web-Mercator meters, both of
which inflate by 1/cos(lat)^2 (area) / 1/cos(lat) (length) away from
the equator — a polygonized lake at 60N reads 4x its true area in
Mercator. This operator closes the loop for reporting: ring vertices
map to lon/lat (the engine's inverse-P1 formulas) and area/length
evaluate ON THE SPHERE, entirely in Catalyst array expressions — no
UDF, no geometry library.

Formulas (public classics):

- **Area** — the Chamberlain & Duquette spherical polygon formula
  (JPL Publication 07-03, 2007; the same one Turf.js/PostGIS
  geography use): ``A = R^2/2 * sum (lam2 - lam1) * (2 + sin(phi1)
  + sin(phi2))``, signed by vertex orientation (sign note at the
  formula below). Exact for
  meridian/parallel-aligned boxes (``R^2 * dlam * (sin phi2 - sin
  phi1)``), which the tests exploit as a closed-form oracle. The
  leading sign keeps the engine's polygonize orientation convention:
  exterior rings (clockwise in SCREEN y-down pixel space = CCW on the
  globe) come out POSITIVE, holes negative — so ``sum(area_m2) over a
  region's rings`` is its true area, the spherical sibling of the
  ``sum(signed_area_px) == region_px`` invariant.
- **Perimeter** — great-circle haversine summed per edge (always
  positive, holes contribute their circumference).

Scale: one projection + one ``aggregate`` fold per ring row, all
JVM-side; the per-region rollup is one map-side-combinable groupBy.
Sphere radius defaults to the EPSG:3857 sphere for consistency with
the engine's Mercator math; pass ``radius`` for the authalic sphere
(6371007.2 m) when matching ellipsoidal products.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from tilegrab_spark.kernels.geo import WGS84_RADIUS

__all__ = ["geodesic_measures", "region_geodesic_areas"]


def _lam_phi(xs: str, ys: str, tile_px: int):
    """lon/lat RADIAN arrays from global-pixel ring arrays (inverse P1,
    same formulas as polygons_lonlat but in radians for the folds)."""
    n_px = F.pow(F.lit(2.0), F.col("z").cast("double")) * F.lit(float(tile_px))
    lam = F.transform(
        F.col(xs),
        lambda gx: (gx.cast("double") / n_px - F.lit(0.5)) * F.lit(2.0 * math.pi),
    )
    phi = F.transform(
        F.col(ys),
        lambda gy: F.lit(2.0)
        * F.atan(
            F.exp(F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * gy.cast("double") / n_px))
        )
        - F.lit(math.pi / 2.0),
    )
    return lam, phi


def _edge_fold(lam: Column, phi: Column, combine) -> Column:
    """Fold ``combine(i)`` over edge indices 1..len-1 (vertex i-1 -> i)."""
    n = F.size(lam)
    idx = F.sequence(F.lit(1), n - 1)
    return F.when(n >= 2, F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + combine(lam, phi, i),
    )).otherwise(F.lit(0.0))


def geodesic_measures(
    rings: DataFrame,
    *,
    tile_px: int = 256,
    radius: float = WGS84_RADIUS,
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Add ``area_m2`` (signed — exterior positive, holes negative,
    module docstring) and ``perimeter_m`` (always positive) to a ring
    frame (the polygonize/dissolve shape: ``z`` + closed global-pixel
    vertex arrays ``xs``/``ys``). Pure Catalyst; NULL/short rings
    yield 0.0."""
    if tile_px < 1:
        raise ValueError(f"tile_px must be positive, got {tile_px}")
    R = float(radius)
    if R <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    lam, phi = _lam_phi(xs_col, ys_col, tile_px)

    def area_term(lams, phis, i):
        l1, l2 = F.element_at(lams, i), F.element_at(lams, i + F.lit(1))
        p1, p2 = F.element_at(phis, i), F.element_at(phis, i + F.lit(1))
        # sin(p1) + sin(p2) commutes exactly, so reversing an edge negates
        # its term bit-for-bit and a there-and-back spike sums to 0.0
        return (l2 - l1) * (F.lit(2.0) + (F.sin(p1) + F.sin(p2)))

    def edge_len(lams, phis, i):
        l1, l2 = F.element_at(lams, i), F.element_at(lams, i + F.lit(1))
        p1, p2 = F.element_at(phis, i), F.element_at(phis, i + F.lit(1))
        # haversine on the sphere
        a = (
            F.pow(F.sin((p2 - p1) / 2), F.lit(2.0))
            + F.cos(p1) * F.cos(p2) * F.pow(F.sin((l2 - l1) / 2), F.lit(2.0))
        )
        return F.lit(2.0) * F.asin(F.sqrt(F.least(F.lit(1.0), a)))

    with_arrays = rings.withColumn("_lam", lam).withColumn("_phi", phi)
    # +R^2/2: the pixel plane is y-down, so the pixel->lonlat map
    # reverses orientation — polygonize's positive-pixel-shoelace
    # exteriors are CW on the globe, where the CD sum is positive
    area = (
        F.lit(R * R / 2.0)
        * _edge_fold(F.col("_lam"), F.col("_phi"), area_term)
    ).alias("area_m2")
    perim = (F.lit(R) * _edge_fold(F.col("_lam"), F.col("_phi"), edge_len)).alias(
        "perimeter_m"
    )
    return with_arrays.withColumn("area_m2", area).withColumn(
        "perimeter_m", perim
    ).drop("_lam", "_phi")


def region_geodesic_areas(
    rings: DataFrame,
    *,
    tile_px: int = 256,
    radius: float = WGS84_RADIUS,
) -> DataFrame:
    """Per-region true areas from a polygonize output: ``[region_id,
    label, area_m2, perimeter_m, n_rings]`` with holes already
    subtracted (signed-sum over the region's rings) — the spherical
    sibling of the region_px invariant. One groupBy, map-side
    combinable."""
    m = geodesic_measures(rings, tile_px=tile_px, radius=radius)
    return m.groupBy("region_id").agg(
        F.first("label").alias("label"),
        F.sum("area_m2").alias("area_m2"),
        F.sum("perimeter_m").alias("perimeter_m"),
        F.count(F.lit(1)).alias("n_rings"),
    )
