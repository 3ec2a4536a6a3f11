"""Shapefile / GeoPackage readers (S1 parity: the reference accepts
shp/gpkg/geojson, dataset.py:80-88): fixtures are built byte-by-byte in
the test from the SAME T polygon as the GeoJSON goldens, so all three
formats must select the identical golden tile set."""

import sqlite3
import struct

import numpy as np
import pytest

from tests.conftest import T_RING, T_SHAPE_Z16
from tilegrab_spark.kernels import geo
from tilegrab_spark.operators.tiles import tiles_for
from tilegrab_spark.sources.vector_files import (
    geometry_from_file,
    geometry_from_geopackage,
    geometry_from_shapefile,
)

# the reference's T fixture is EPSG:3857 (its GeoJSON declares
# urn:ogc:def:crs:EPSG::3857); the files here carry the T ring likewise
MERC_PRJ = (
    'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],'
    'PRIMEM["Greenwich",0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Mercator_Auxiliary_Sphere"],UNIT["Meter",1],'
    'AUTHORITY["EPSG","3857"]]'
)


def _t_ring() -> np.ndarray:
    """The T ring in EPSG:3857."""
    lonlat = np.asarray(T_RING, dtype=np.float64)
    return np.column_stack(geo.lonlat_to_mercator(lonlat[:, 0], lonlat[:, 1]))


def _write_shp(path, ring: np.ndarray):
    """Minimal single-record polygon shapefile, written per the ESRI spec."""
    n = len(ring)
    content = struct.pack("<i", 5)  # shape type: Polygon
    content += struct.pack(
        "<4d", ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
    )
    content += struct.pack("<ii", 1, n)  # numParts, numPoints
    content += struct.pack("<i", 0)  # part 0 offset
    content += ring.astype("<f8").tobytes()
    record = struct.pack(">ii", 1, len(content) // 2) + content
    file_len = (100 + len(record)) // 2
    header = struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, file_len)
    header += struct.pack("<ii", 1000, 5)
    header += struct.pack(
        "<4d", ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
    )
    header += struct.pack("<4d", 0, 0, 0, 0)
    path.write_bytes(header + record)


def _wkb_polygon(ring: np.ndarray) -> bytes:
    return (
        struct.pack("<BII", 1, 3, 1)
        + struct.pack("<I", len(ring))
        + ring.astype("<f8").tobytes()
    )


def _write_gpkg(path, ring: np.ndarray, srs_id: int):
    con = sqlite3.connect(str(path))
    con.execute(
        "CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT, srs_id INT)"
    )
    con.execute(
        "CREATE TABLE gpkg_geometry_columns "
        "(table_name TEXT, column_name TEXT, geometry_type_name TEXT, srs_id INT)"
    )
    con.execute(
        "CREATE TABLE gpkg_spatial_ref_sys "
        "(srs_id INT, organization TEXT, organization_coordsys_id INT)"
    )
    con.execute("CREATE TABLE shapes (fid INTEGER PRIMARY KEY, geom BLOB)")
    con.execute("INSERT INTO gpkg_contents VALUES ('shapes', 'features', ?)", (srs_id,))
    con.execute(
        "INSERT INTO gpkg_geometry_columns VALUES ('shapes', 'geom', 'POLYGON', ?)",
        (srs_id,),
    )
    con.execute(
        "INSERT INTO gpkg_spatial_ref_sys VALUES (?, 'EPSG', ?)", (srs_id, srs_id)
    )
    # GPKG binary header: magic, version 0, flags=0b00000001 (LE), srs_id
    gp = b"GP" + bytes([0, 0b00000001]) + struct.pack("<i", srs_id)
    con.execute(
        "INSERT INTO shapes (geom) VALUES (?)", (gp + _wkb_polygon(ring),)
    )
    con.commit()
    con.close()


def test_shapefile_matches_geojson_golden(spark, tmp_path):
    ring = _t_ring()  # EPSG:3857, like the reference fixture
    shp = tmp_path / "T.shp"
    _write_shp(shp, ring)
    (tmp_path / "T.prj").write_text(MERC_PRJ)
    geom = geometry_from_file(shp)
    assert geom.geom_id == "T" and geom.original_epsg == 3857
    got = sorted((r.x, r.y) for r in tiles_for(spark, geom, 16, by="shape").collect())
    assert got == sorted(T_SHAPE_Z16)


def test_shapefile_without_prj_fails(tmp_path):
    ring = _t_ring()
    shp = tmp_path / "nocrs.shp"
    _write_shp(shp, ring)
    with pytest.raises(ValueError, match="no .prj"):
        geometry_from_shapefile(shp)


def test_geopackage_3857_normalizes_and_matches_golden(spark, tmp_path):
    ring = _t_ring()  # EPSG:3857; the reader must invert it (P10)
    gpkg = tmp_path / "T.gpkg"
    _write_gpkg(gpkg, ring, 3857)
    geom = geometry_from_geopackage(gpkg, "T")
    assert geom.original_epsg == 3857 and geom.current_epsg == 4326
    # the normalized ring is the T ring the file was projected from
    np.testing.assert_allclose(geom.polygons[0][0], np.asarray(T_RING), atol=1e-12)
    got = sorted((r.x, r.y) for r in tiles_for(spark, geom, 16, by="shape").collect())
    assert got == sorted(T_SHAPE_Z16)


def test_geopackage_undefined_srs_fails(tmp_path):
    gpkg = tmp_path / "bad.gpkg"
    _write_gpkg(gpkg, _t_ring(), 0)
    with pytest.raises(ValueError, match="undefined srs"):
        geometry_from_geopackage(gpkg)


def test_wkb_polygon_z_parses_xy(tmp_path, spark):
    """PolygonZ (ISO 1003 and EWKB 0x80000003) parses the XY ordinates
    correctly and drops Z — not interleaving Z into coordinates."""
    import struct as st

    from tilegrab_spark.sources.vector_files import _parse_wkb_polygons

    ring3d = [(0.0, 0.0, 5.0), (1.0, 0.0, 5.0), (0.0, 1.0, 5.0), (0.0, 0.0, 5.0)]
    for gtype in (1003, 0x80000003):
        blob = st.pack("<BII", 1, gtype, 1) + st.pack("<I", len(ring3d))
        for p in ring3d:
            blob += st.pack("<3d", *p)
        polys = _parse_wkb_polygons(blob)
        np.testing.assert_array_equal(
            polys[0][0], np.array([(0, 0), (1, 0), (0, 1), (0, 0)], dtype=float)
        )
