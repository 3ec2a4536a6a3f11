"""Tile-addressing interop (functions/interop.py) + Z-order layout
(operators/layout.py).

Reference scope note: the reference speaks only slippy XYZ
(src/tilegrab/tiles/tile.py); quadkey/TMS/Morton are engine
extensions for provider interop and cluster-scale data layout.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tilegrab_spark.functions.interop import (
    morton_key_col,
    morton_parent_col,
    quadkey_col,
    quadkey_decode_cols,
    tms_y_col,
)
from tilegrab_spark.operators.layout import (
    cluster_by_space,
    morton_bbox_predicate,
    morton_ranges_for_bbox,
    partition_extent_stats,
    with_morton_key,
)


def _ref_quadkey(z, x, y):
    return "".join(
        str(((x >> (i - 1)) & 1) | (((y >> (i - 1)) & 1) << 1))
        for i in range(z, 0, -1)
    )


def _ref_morton(z, x, y):
    m = 0
    for i in range(z - 1, -1, -1):
        m = m * 4 + 2 * ((y >> i) & 1) + ((x >> i) & 1)
    return m


def _keys_df(spark, triples):
    return spark.createDataFrame(triples, "z int, x long, y long").select(
        "z",
        "x",
        "y",
        quadkey_col(F.col("x"), F.col("y"), F.col("z")).alias("qk"),
        morton_key_col(F.col("x"), F.col("y"), F.col("z")).alias("mk"),
        tms_y_col(F.col("y"), F.col("z")).alias("tms"),
    )


def test_bing_documented_example(spark):
    # Bing Maps tile-system docs: tile (x=3, y=5) at level 3 -> "213"
    row = _keys_df(spark, [(3, 3, 5)]).collect()[0]
    assert row.qk == "213"
    assert row.tms == (1 << 3) - 1 - 5


def test_zoom_zero_world_tile(spark):
    row = _keys_df(spark, [(0, 0, 0)]).collect()[0]
    assert row.qk == ""
    assert row.mk == 0
    z, xb, yb = quadkey_decode_cols(F.col("qk"))
    r2 = (
        _keys_df(spark, [(0, 0, 0)])
        .select(z.alias("z2"), xb.alias("xb"), yb.alias("yb"))
        .collect()[0]
    )
    assert (r2.z2, r2.xb, r2.yb) == (0, 0, 0)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=30).flatmap(
            lambda z: st.tuples(
                st.just(z),
                st.integers(0, 2**z - 1),
                st.integers(0, 2**z - 1),
            )
        ),
        min_size=1,
        max_size=8,
    )
)
def test_keys_match_reference_and_roundtrip(spark, triples):
    out = _keys_df(spark, triples)
    z2, xb, yb = quadkey_decode_cols(F.col("qk"))
    rows = out.select(
        "*",
        z2.alias("zb"),
        xb.alias("xb"),
        yb.alias("yb"),
        morton_parent_col(F.col("mk")).alias("mp"),
    ).collect()
    assert len(rows) == len(triples)
    for r in rows:
        assert r.qk == _ref_quadkey(r.z, r.x, r.y)
        assert r.mk == _ref_morton(r.z, r.x, r.y)
        assert r.tms == (1 << r.z) - 1 - r.y
        assert (r.zb, r.xb, r.yb) == (r.z, r.x, r.y)
        # parent tile (x//2, y//2) at z-1 shares the key prefix
        assert r.mp == _ref_morton(r.z - 1, r.x // 2, r.y // 2)


def test_tms_is_involution(spark):
    df = spark.range(0, 64).select(
        F.lit(6).alias("z"), F.col("id").alias("y")
    )
    back = df.select(
        tms_y_col(tms_y_col(F.col("y"), F.col("z")), F.col("z")).alias("y2"),
        "y",
    )
    assert back.filter(F.col("y2") != F.col("y")).count() == 0


def test_sql_surface_parity(spark):
    """tg_quadkey / tg_tms_y / tg_morton_key ≡ the DataFrame columns."""
    from tilegrab_spark.sql import register_sql_functions

    register_sql_functions(spark)
    df = spark.range(0, 500).select(
        F.lit(14).alias("z"),
        F.pmod(F.col("id") * 2654435761, F.lit(2**14)).alias("x"),
        F.pmod(F.col("id") * 40503, F.lit(2**14)).alias("y"),
    )
    df.createOrReplaceTempView("interop_parity")
    sql = spark.sql(
        """SELECT tg_quadkey(z, x, y) AS qk, tg_tms_y(z, y) AS tms,
                  tg_morton_key(z, x, y) AS mk
           FROM interop_parity"""
    )
    api = df.select(
        quadkey_col(F.col("x"), F.col("y"), F.col("z")).alias("qk"),
        tms_y_col(F.col("y"), F.col("z")).alias("tms"),
        morton_key_col(F.col("x"), F.col("y"), F.col("z")).alias("mk"),
    )
    assert sql.exceptAll(api).count() == 0 and api.exceptAll(sql).count() == 0


def test_morton_key_null_propagates(spark):
    df = spark.createDataFrame([(12, None, 5)], "z int, x long, y long")
    r = df.select(
        morton_key_col(F.col("x"), F.col("y"), F.col("z")).alias("mk"),
        quadkey_col(F.col("x"), F.col("y"), F.col("z")).alias("qk"),
    ).collect()[0]
    assert r.mk is None and r.qk is None


def test_cluster_by_space_locality(spark):
    """Z-order clustering yields per-partition bounding boxes far
    tighter than hash layout: the sum of partition bbox areas (the scan
    cost a bbox query pays) must shrink by >=4x on a uniform grid."""
    n = 64
    grid = (
        # hash-scatter first so the input starts spatially shuffled
        spark.range(n * n)
        .repartition(16, "id")
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
    )
    parts = 16
    clustered = cluster_by_space(grid, zoom=6, num_partitions=parts)
    stats = partition_extent_stats(clustered).toPandas()
    scattered = partition_extent_stats(grid.repartition(parts, "x", "y")).toPandas()
    assert stats["rows"].sum() == n * n
    # balanced: no partition more than 4x the mean
    assert stats["rows"].max() <= 4 * stats["rows"].mean()
    assert stats["bbox_area"].sum() * 4 <= scattered["bbox_area"].sum()
    # sorted within partitions: morton_key nondecreasing per partition
    def _is_sorted(it):
        vals = [r.morton_key for r in it]
        assert vals == sorted(vals)
        return iter([])

    clustered.select("morton_key").rdd.mapPartitions(
        lambda it: _is_sorted(it)
    ).count()


def test_with_morton_key_column_zoom(spark):
    df = spark.createDataFrame([(3, 1, 2), (4, 5, 9)], "z int, x long, y long")
    out = with_morton_key(df).collect()
    for r in out:
        assert r.morton_key == _ref_morton(r.z, r.x, r.y)


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 6).flatmap(
        lambda z: st.tuples(
            st.just(z),
            *[st.integers(0, 2**z - 1) for _ in range(4)],
        )
    )
)
def test_morton_ranges_exact_cover(args):
    z, xa, xb, ya, yb = args
    x0, x1, y0, y1 = min(xa, xb), max(xa, xb), min(ya, yb), max(ya, yb)
    ranges = morton_ranges_for_bbox(x0, y0, x1, y1, z, max_ranges=10**9)
    want = {
        _ref_morton(z, x, y)
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    }
    got = set()
    for lo, hi in ranges:
        got.update(range(lo, hi + 1))
    assert got == want  # uncoalesced cover is EXACT, not approximate
    # coalesced: superset, bounded count
    small = morton_ranges_for_bbox(x0, y0, x1, y1, z, max_ranges=4)
    assert len(small) <= 4
    got_s = set()
    for lo, hi in small:
        got_s.update(range(lo, hi + 1))
    assert want <= got_s


def test_morton_ranges_empty_and_degenerate():
    assert morton_ranges_for_bbox(3, 3, 2, 3, 5) == []
    assert morton_ranges_for_bbox(0, 0, 0, 0, 0) == [(0, 0)]
    # full domain is one range
    assert morton_ranges_for_bbox(0, 0, 15, 15, 4) == [(0, 255)]


def test_morton_bbox_predicate_pushdown(spark, tmp_path):
    """Read side of the layout: the range predicate returns exactly the
    bbox rows from a clustered table and reaches the parquet scan as a
    pushed filter (so row-group stats prune)."""
    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    path = str(tmp_path / "zt")
    cluster_by_space(grid, zoom=6, num_partitions=8).write.parquet(path)
    t = spark.read.parquet(path)
    x0, y0, x1, y1 = 5, 17, 20, 40
    pred = morton_bbox_predicate(F.col("morton_key"), x0, y0, x1, y1, 6)
    got = t.filter(pred).filter(
        F.col("x").between(x0, x1) & F.col("y").between(y0, y1)
    )
    assert got.count() == (x1 - x0 + 1) * (y1 - y0 + 1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "morton_key" in plan.split("PushedFilters")[1][:2000]


def test_parquet_minmax_stats_prune(spark, tmp_path):
    """The layout's point: files written from a clustered frame carry
    tight morton_key min/max parquet stats, so a key-range scan touches
    a small fraction of row groups. Verify via parquet footer metadata."""
    import pyarrow.parquet as pq

    n = 128
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    path = str(tmp_path / "clustered")
    cluster_by_space(grid, zoom=7, num_partitions=8).write.parquet(path)
    import glob

    spans = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "morton_key"
            )
            spans.append((col.statistics.min, col.statistics.max))
    total = 4 ** 7
    covered = sum(hi - lo + 1 for lo, hi in spans)
    # disjoint, tight spans: together they cover ~the key domain once,
    # not 8x over (hash layout would give every file the full span)
    assert covered <= 2 * total
    spans.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # non-overlapping


# ---------------------------------------------------------------------------
# Geohash
# ---------------------------------------------------------------------------

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _ref_geohash(lon, lat, p):
    """Scalar reference implementation: interval-halving formulation
    (independent of the engine's integer-cell fold)."""
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    bits = []
    even = True
    while len(bits) < 5 * p:
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                bits.append(1); lo_lon = mid
            else:
                bits.append(0); hi_lon = mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                bits.append(1); lo_lat = mid
            else:
                bits.append(0); hi_lat = mid
        even = not even
    out = []
    for c in range(p):
        d = 0
        for b in bits[c * 5:(c + 1) * 5]:
            d = d * 2 + b
        out.append(_GH32[d])
    return "".join(out)


def test_geohash_documented_examples(spark):
    from tilegrab_spark.functions.interop import geohash_col

    df = spark.createDataFrame(
        [(-5.6, 42.6), (13.361389, 38.115556), (10.40744, 57.64911)],
        "lon double, lat double",
    )
    got = [
        (r.g5, r.g11)
        for r in df.select(
            geohash_col(F.col("lon"), F.col("lat"), 5).alias("g5"),
            geohash_col(F.col("lon"), F.col("lat"), 11).alias("g11"),
        ).collect()
    ]
    # the two classic published examples + Palermo
    assert got[0][0] == "ezs42"
    assert got[2][1] == "u4pruydqqvj"
    assert got[1][1].startswith("sqc8b49rn")


@settings(max_examples=25, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-180.0, max_value=179.999, allow_nan=False),
            st.floats(min_value=-90.0, max_value=89.999, allow_nan=False),
            st.integers(min_value=1, max_value=12),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_geohash_matches_reference_and_decodes(spark, pts):
    from tilegrab_spark.functions.interop import geohash_col, geohash_decode_cols

    # one query encodes every point (a column per distinct precision),
    # one more decodes every hash
    df = spark.createDataFrame(
        [(i, lon, lat) for i, (lon, lat, _) in enumerate(pts)], "i int, lon double, lat double"
    )
    precisions = sorted({p for _, _, p in pts})
    enc = {
        r.i: r
        for r in df.select(
            "i", *[geohash_col(F.col("lon"), F.col("lat"), p).alias(f"gh{p}") for p in precisions]
        ).collect()
    }
    hashes = [enc[i][f"gh{p}"] for i, (_, _, p) in enumerate(pts)]
    for (lon, lat, p), gh in zip(pts, hashes):
        assert gh == _ref_geohash(lon, lat, p), (lon, lat, p)
    dlon, dlat = geohash_decode_cols(F.col("gh"))
    dec = {
        r.i: r
        for r in spark.createDataFrame(list(enumerate(hashes)), "i int, gh string")
        .select("i", dlon.alias("lon"), dlat.alias("lat"))
        .collect()
    }
    for i, (lon, lat, p) in enumerate(pts):
        # center of the cell: within half a cell of the input
        lon_bits = (5 * p + 1) // 2
        lat_bits = (5 * p) // 2
        assert abs(dec[i].lon - lon) <= 360.0 / (1 << lon_bits) / 2 + 1e-9
        assert abs(dec[i].lat - lat) <= 180.0 / (1 << lat_bits) / 2 + 1e-9


def test_geohash_null_and_validation(spark):
    from tilegrab_spark.functions.interop import geohash_col, geohash_decode_cols

    df = spark.createDataFrame([(None, 1.0), (1.0, None)], "lon double, lat double")
    rows = df.select(geohash_col(F.col("lon"), F.col("lat"), 6).alias("gh")).collect()
    assert all(r.gh is None for r in rows)
    lon, lat = geohash_decode_cols(F.lit(None).cast("string"))
    r = df.limit(1).select(lon.alias("a"), lat.alias("b")).collect()[0]
    assert r.a is None and r.b is None
    import pytest as _pt

    with _pt.raises(ValueError):
        geohash_col(F.col("lon"), F.col("lat"), 0)
    with _pt.raises(ValueError):
        geohash_col(F.col("lon"), F.col("lat"), 13)


# ---------------------------------------------------------------------------
# Hilbert curve key
# ---------------------------------------------------------------------------

def _ref_hilbert(z, x, y):
    """Sequential reference: the public xy2d quadrant walk."""
    n = 1 << z
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_exhaustive_bijection_adjacency(spark):
    """z=4 exhaustive: Catalyst == reference, keys are a bijection onto
    [0, 4^z), and every consecutive key step is GRID-ADJACENT (manhattan
    distance exactly 1 — the Hilbert property Morton lacks; this is the
    locality claim, proven, not asserted)."""
    from tilegrab_spark.functions.interop import hilbert_key_col

    z, n = 4, 16
    df = spark.createDataFrame(
        [(z, x, y) for x in range(n) for y in range(n)], "z int, x long, y long"
    )
    rows = df.select(
        "x", "y", hilbert_key_col(F.col("x"), F.col("y"), F.col("z")).alias("hk")
    ).collect()
    by_key = {}
    for r in rows:
        assert r.hk == _ref_hilbert(z, r.x, r.y)
        by_key[r.hk] = (r.x, r.y)
    assert sorted(by_key) == list(range(n * n))
    for d in range(n * n - 1):
        (x0, y0), (x1, y1) = by_key[d], by_key[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 30).flatmap(
        lambda z: st.tuples(
            st.just(z),
            st.integers(0, 2**z - 1),
            st.integers(0, 2**z - 1),
        )
    )
)
def test_hilbert_matches_reference_all_zooms(spark, triple):
    from tilegrab_spark.functions.interop import hilbert_key_col

    z, x, y = triple
    r = (
        spark.createDataFrame([(z, x, y)], "z int, x long, y long")
        .select(hilbert_key_col(F.col("x"), F.col("y"), F.col("z")).alias("hk"))
        .collect()[0]
    )
    assert r.hk == _ref_hilbert(z, x, y)


def test_hilbert_sql_parity_null_and_zoom0(spark):
    from tilegrab_spark.functions.interop import hilbert_key_col
    from tilegrab_spark.sql import register_sql_functions

    register_sql_functions(spark)
    df = spark.range(0, 400).select(
        F.lit(14).alias("z"),
        F.pmod(F.col("id") * 2654435761, F.lit(2**14)).alias("x"),
        F.pmod(F.col("id") * 40503, F.lit(2**14)).alias("y"),
    )
    df.createOrReplaceTempView("hilbert_parity")
    sql = spark.sql("SELECT tg_hilbert_key(z, x, y) AS hk FROM hilbert_parity")
    api = df.select(hilbert_key_col(F.col("x"), F.col("y"), F.col("z")).alias("hk"))
    assert sql.exceptAll(api).count() == 0 and api.exceptAll(sql).count() == 0
    edge = spark.createDataFrame(
        [(0, 0, 0), (12, None, 5)], "z int, x long, y long"
    ).select(hilbert_key_col(F.col("x"), F.col("y"), F.col("z")).alias("hk"))
    vals = [r.hk for r in edge.collect()]
    assert vals == [0, None]


def test_cluster_by_space_hilbert_curve(spark):
    """curve='hilbert' lays out like the morton path (balanced, sorted,
    >=4x tighter partition bboxes than hash scatter) and beats-or-ties
    morton on summed partition bbox area for a uniform grid."""
    import pytest as _pytest

    from tilegrab_spark.operators.layout import with_hilbert_key

    n = 64
    grid = (
        spark.range(n * n)
        .repartition(16, "id")
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
    )
    parts = 16
    clustered = cluster_by_space(grid, zoom=6, num_partitions=parts, curve="hilbert")
    stats = partition_extent_stats(clustered).toPandas()
    scattered = partition_extent_stats(grid.repartition(parts, "x", "y")).toPandas()
    assert stats["rows"].sum() == n * n
    assert stats["rows"].max() <= 4 * stats["rows"].mean()
    assert stats["bbox_area"].sum() * 4 <= scattered["bbox_area"].sum()
    morton_stats = partition_extent_stats(
        cluster_by_space(grid, zoom=6, num_partitions=parts)
    ).toPandas()
    assert stats["bbox_area"].sum() <= morton_stats["bbox_area"].sum()

    def _is_sorted(it):
        vals = [r.hilbert_key for r in it]
        assert vals == sorted(vals)
        return iter([])

    clustered.select("hilbert_key").rdd.mapPartitions(_is_sorted).count()

    keyed = with_hilbert_key(grid.limit(5), zoom=6)
    assert "hilbert_key" in keyed.columns
    with _pytest.raises(ValueError):
        cluster_by_space(grid, zoom=6, curve="peano")
