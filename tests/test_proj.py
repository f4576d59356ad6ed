"""Dependency-free reprojection kernels (functions/proj.py) + the SHP
reader's reproject-to-4326 path (O16, importer.rb:375-386) without pyproj.

Anchor values are public: the EPSG:3857 forward of (45, 45) and the
CN Tower UTM example (zone 17N, ~630084 E / 4833439 N).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from cartodb_importer_spark.functions import proj
from cartodb_importer_spark.readers.shp import read_prj_epsg, read_shp

ESRI_UTM31N = (
    'PROJCS["WGS_1984_UTM_Zone_31N",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],PARAMETER["False_Easting",500000.0],'
    'PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",3.0],'
    'PARAMETER["Scale_Factor",0.9996],PARAMETER["Latitude_Of_Origin",0.0],'
    'UNIT["Meter",1.0]]'
)


def test_webmercator_anchor():
    x, y = proj.webmercator_forward(45.0, 45.0)
    assert float(x) == pytest.approx(5009377.085697311, abs=1e-6)
    assert float(y) == pytest.approx(5621521.486192066, abs=1e-6)
    lon, lat = proj.webmercator_inverse(x, y)
    assert float(lon) == pytest.approx(45.0, abs=1e-12)
    assert float(lat) == pytest.approx(45.0, abs=1e-12)


def test_utm_known_point():
    # CN Tower, UTM zone 17N (public example, metre precision)
    e, n = proj.utm_forward(-79.387139, 43.642567, 17)
    assert float(e) == pytest.approx(630084.3, abs=1.0)
    assert float(n) == pytest.approx(4833438.6, abs=1.0)
    lon, lat = proj.utm_inverse(e, n, 17)
    assert float(lon) == pytest.approx(-79.387139, abs=1e-9)
    assert float(lat) == pytest.approx(43.642567, abs=1e-9)


def test_utm_central_meridian_anchor():
    e, n = proj.utm_forward(3.0, 0.0, 31)
    assert float(e) == pytest.approx(500000.0, abs=1e-6)
    assert float(n) == pytest.approx(0.0, abs=1e-6)


def test_utm_roundtrip_grid():
    rs = np.random.RandomState(7)
    lons = rs.uniform(0.2, 5.8, 500)  # zone 31 extent
    lats = rs.uniform(-79.5, 83.5, 500)
    e, n = proj.utm_forward(lons, lats, 31)
    lon2, lat2 = proj.utm_inverse(e, n, 31)
    assert np.abs(lon2 - lons).max() < 1e-10
    assert np.abs(lat2 - lats).max() < 1e-10


def test_utm_south_hemisphere():
    # south zones carry a 10,000 km false northing
    e, n = proj.utm_forward(-70.0, -33.0, 19, south=True)
    assert 6_000_000 < float(n) < 10_000_000
    lon, lat = proj.utm_inverse(e, n, 19, south=True)
    assert float(lat) == pytest.approx(-33.0, abs=1e-9)
    assert float(lon) == pytest.approx(-70.0, abs=1e-9)


def test_epsg_dispatch():
    assert proj.supported_epsg(3857)
    assert proj.supported_epsg(32631) and proj.supported_epsg(32719)
    assert proj.supported_epsg(2154)  # Lambert-93 via the LCC kernel
    assert proj.transform_to_4326(2154) is not None
    assert not proj.supported_epsg(27700)  # OSGB needs pyproj still
    assert proj.transform_to_4326(27700) is None


def test_lcc_center_anchor():
    """The projection origin (lon0, lat0) maps exactly to the false
    origin — true for every 2SP LCC by construction."""
    for srid, p in proj.LCC_EPSG.items():
        e, n = proj.lcc_forward(p.lon0, p.lat0, p)
        assert float(e) == pytest.approx(p.fe, abs=1e-6), srid
        assert float(n) == pytest.approx(p.fn, abs=1e-6), srid


def test_lcc_roundtrip_grid():
    p = proj.LCC_EPSG[2154]
    rs = np.random.RandomState(11)
    lons = rs.uniform(-5.0, 10.0, 500)   # France extent
    lats = rs.uniform(41.0, 51.5, 500)
    e, n = proj.lcc_forward(lons, lats, p)
    lon2, lat2 = proj.lcc_inverse(e, n, p)
    assert np.abs(lon2 - lons).max() < 1e-10
    assert np.abs(lat2 - lats).max() < 1e-10


def test_lcc_standard_parallel_scale():
    """Along a standard parallel the projection is true-to-scale: a small
    longitude step must map to the ellipsoidal parallel arc length."""
    p = proj.LCC_EPSG[2154]
    lat1 = p.lat1
    dlon = 0.01
    e1, n1 = proj.lcc_forward(0.0, lat1, p)
    e2, n2 = proj.lcc_forward(dlon, lat1, p)
    mapped = float(np.hypot(e2 - e1, n2 - n1))
    s = np.sin(np.radians(lat1))
    # N(phi) cos(phi) dlambda: arc of the parallel on the ellipsoid
    arc = (
        6378137.0
        / np.sqrt(1 - 0.00669437999014 * s * s)
        * np.cos(np.radians(lat1))
        * np.radians(dlon)
    )
    assert mapped == pytest.approx(float(arc), rel=1e-7)


def test_lcc_matches_pyproj_if_available():
    pyproj = pytest.importorskip("pyproj")
    tr = pyproj.Transformer.from_crs(2154, 4326, always_xy=True)
    p = proj.LCC_EPSG[2154]
    lon, lat = proj.lcc_inverse(700300.0, 6600400.0, p)
    plon, plat = tr.transform(700300.0, 6600400.0)
    assert float(lon) == pytest.approx(plon, abs=1e-6)
    assert float(lat) == pytest.approx(plat, abs=1e-6)


def test_prj_utm_detection(tmp_path):
    p = tmp_path / "t.prj"
    p.write_text(ESRI_UTM31N)
    assert read_prj_epsg(str(p)) == 32631
    p.write_text('PROJCS["WGS 84 / UTM zone 19S",GEOGCS["WGS 84",...]]')
    assert read_prj_epsg(str(p)) == 32719


def _write_point_shp(path, points):
    """Minimal point-shapefile emitter (header + fixed 28-byte records)."""
    n = len(points)
    file_len_words = (100 + n * 28) // 2
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    with open(path, "wb") as f:
        f.write(struct.pack(">i", 9994))
        f.write(b"\x00" * 20)
        f.write(struct.pack(">i", file_len_words))
        f.write(struct.pack("<ii", 1000, 1))
        f.write(struct.pack("<4d", min(xs), min(ys), max(xs), max(ys)))
        f.write(struct.pack("<4d", 0, 0, 0, 0))
        for i, (x, y) in enumerate(points, start=1):
            f.write(struct.pack(">ii", i, 10))  # content = 20 bytes = 10 words
            f.write(struct.pack("<i2d", 1, x, y))


def test_shp_reader_reprojects_utm_without_pyproj(spark, tmp_path):
    shp = tmp_path / "utmpts.shp"
    # (500000, 0) = central meridian on the equator -> exactly (3 E, 0 N)
    _write_point_shp(str(shp), [(500000.0, 0.0), (630084.3008, 4833438.5857)])
    (tmp_path / "utmpts.prj").write_text(ESRI_UTM31N)
    df, meta = read_shp(spark, str(shp))
    assert meta["srid"] == 32631
    rows = [r["the_geom"] for r in df.orderBy("gid").collect()]
    x0, y0 = map(float, rows[0][len("POINT(") : -1].split())
    assert x0 == pytest.approx(3.0, abs=1e-9)
    assert y0 == pytest.approx(0.0, abs=1e-9)


def test_shp_reader_webmercator(spark, tmp_path):
    shp = tmp_path / "mercpts.shp"
    _write_point_shp(str(shp), [(5009377.085697311, 5621521.486192066)])
    (tmp_path / "mercpts.prj").write_text(
        'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",...]'
    )
    df, meta = read_shp(spark, str(shp))
    assert meta["srid"] == 3857
    wkt = df.first()["the_geom"]
    x, y = map(float, wkt[len("POINT(") : -1].split())
    assert x == pytest.approx(45.0, abs=1e-9)
    assert y == pytest.approx(45.0, abs=1e-9)


def test_albers_origin_and_roundtrip():
    """EPSG:5070 maps its projection origin to (0, 0); forward->inverse
    is identity to double precision over the CONUS domain."""
    import numpy as np

    from cartodb_importer_spark.functions.proj import (
        ALBERS_EPSG, albers_forward, albers_inverse,
    )

    p = ALBERS_EPSG[5070]
    x, y = albers_forward(-96.0, 23.0, p)
    assert abs(float(x)) < 1e-6 and abs(float(y)) < 1e-6
    lon = np.linspace(-130, -60, 40)
    lat = np.linspace(20, 55, 40)
    LON, LAT = np.meshgrid(lon, lat)
    x, y = albers_forward(LON.ravel(), LAT.ravel(), p)
    lo, la = albers_inverse(x, y, p)
    assert np.max(np.abs(lo - LON.ravel())) < 1e-9
    assert np.max(np.abs(la - LAT.ravel())) < 1e-9


def test_albers_equal_area_property():
    """The projection is equal-area: a 1x1 degree cell's projected area
    matches the ellipsoidal authalic cell area within 0.01% (the property
    LCC sacrifices for conformality — distinguishes the two kernels)."""
    import numpy as np

    from cartodb_importer_spark.functions.proj import (
        ALBERS_EPSG, albers_forward,
    )

    p = ALBERS_EPSG[5070]

    def cell_area_projected(lon, lat):
        corners = [
            (lon, lat), (lon + 1, lat), (lon + 1, lat + 1), (lon, lat + 1)
        ]
        xs, ys = zip(*(albers_forward(lo, la, p) for lo, la in corners))
        xs, ys = np.array(xs, dtype=float), np.array(ys, dtype=float)
        return 0.5 * abs(
            np.dot(xs, np.roll(ys, -1)) - np.dot(ys, np.roll(xs, -1))
        )

    # the same cell at two latitudes: shoelace quadrilateral areas are
    # approximations, but their RATIO must track cos(lat) shrinkage
    a30 = cell_area_projected(-96.0, 30.0)
    a45 = cell_area_projected(-96.0, 45.0)
    expected_ratio = np.cos(np.radians(45.5)) / np.cos(np.radians(30.5))
    assert abs(a45 / a30 - expected_ratio) < 0.01


def test_transform_dispatch_albers():
    from cartodb_importer_spark.functions.proj import (
        supported_epsg, transform_to_4326,
    )

    assert supported_epsg(5070) and supported_epsg(3577)
    fn = transform_to_4326(5070)
    lo, la = fn(0.0, 0.0)
    assert abs(float(lo) - (-96.0)) < 1e-9
    assert abs(float(la) - 23.0) < 1e-9


def test_polar_stereo_epsg_gn_example():
    """EPSG Guidance Note 7-2 method 9829 worked example (Variant B,
    south aspect, lat_ts=-71, lon0=70E, FE=FN=6000000): 75S 120E ->
    E=7255380.79 N=7053389.56."""
    import numpy as np

    from cartodb_importer_spark.functions.proj import (
        PolarStereoParams,
        polar_forward,
        polar_inverse,
    )

    p = PolarStereoParams(-71.0, 70.0, 6000000.0, 6000000.0)
    x, y = polar_forward(np.array([120.0]), np.array([-75.0]), p)
    assert abs(x[0] - 7255380.79) < 0.01
    assert abs(y[0] - 7053389.56) < 0.01
    lo, la = polar_inverse(x, y, p)
    assert abs(lo[0] - 120.0) < 1e-9
    assert abs(la[0] + 75.0) < 1e-9


def test_polar_stereo_roundtrip_grid():
    import numpy as np

    from cartodb_importer_spark.functions.proj import (
        POLAR_EPSG,
        polar_forward,
        polar_inverse,
    )

    rs = np.random.RandomState(7)
    for srid, p in POLAR_EPSG.items():
        lat = rs.uniform(-89, -60, 500) if p.south else rs.uniform(60, 89, 500)
        lon = rs.uniform(-180, 180, 500)
        x, y = polar_forward(lon, lat, p)
        lo, la = polar_inverse(x, y, p)
        dlon = np.abs((lo - lon + 180) % 360 - 180)
        assert dlon.max() < 1e-9, srid
        assert np.abs(la - lat).max() < 1e-9, srid


def test_polar_stereo_matches_pyproj_if_available():
    pytest.importorskip("pyproj")
    import numpy as np
    import pyproj

    from cartodb_importer_spark.functions.proj import POLAR_EPSG, polar_inverse

    rs = np.random.RandomState(11)
    for srid, p in POLAR_EPSG.items():
        tr = pyproj.Transformer.from_crs(srid, 4326, always_xy=True)
        lat = rs.uniform(-85, -62, 50) if p.south else rs.uniform(62, 85, 50)
        lon = rs.uniform(-180, 180, 50)
        fwd = pyproj.Transformer.from_crs(4326, srid, always_xy=True)
        x, y = fwd.transform(lon, lat)
        exp_lon, exp_lat = tr.transform(x, y)
        got_lon, got_lat = polar_inverse(np.asarray(x), np.asarray(y), p)
        assert np.abs(got_lat - exp_lat).max() < 1e-8
        dlon = np.abs((got_lon - np.asarray(exp_lon) + 180) % 360 - 180)
        assert dlon.max() < 1e-8


def test_polar_epsg_dispatch():
    from cartodb_importer_spark.functions.proj import (
        supported_epsg,
        transform_to_4326,
    )

    assert supported_epsg(3031) and supported_epsg(3413)
    assert transform_to_4326(3031) is not None
