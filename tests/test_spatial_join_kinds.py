"""Per-kind routing of the spatial join: a mixed catalog read back from
parquet keeps both branches (plain circles on the JVM haversine plan,
everything else on the shipped-spec Python predicate) in one plan, and the
union must equal brute-force kernel containment over every (point, shape)
pair. Building either join must not run a Spark job.
"""

from datetime import datetime

import numpy as np
import pytest

from geostructures_spark.plans.session import get_session

T_IN = datetime(2020, 1, 15)
T_OUT = datetime(2020, 6, 1)


@pytest.fixture(scope='module')
def spark():
    s = get_session(app='tests_sj_kinds', cores=4, shuffle_partitions=8)
    yield s


def _none_params(**kw):
    names = ('center_lon', 'center_lat', 'radius', 'semi_major', 'semi_minor',
             'rotation', 'inner_radius', 'outer_radius', 'angle_min',
             'angle_max', 'min_lon', 'min_lat', 'max_lon', 'max_lat')
    return tuple(kw.get(n) for n in names)


def _square(lon0, lat0, lon1, lat1):
    return [(lon0, lat0), (lon1, lat0), (lon1, lat1), (lon0, lat1), (lon0, lat0)]


# plain circles, a holed polygon, a box and a timed circle
_CATALOG = [
    (1, 'circle', _none_params(center_lon=10.0, center_lat=45.0,
                               radius=60_000.0), None, None, None),
    (2, 'circle', _none_params(center_lon=10.6, center_lat=45.3,
                               radius=40_000.0), None, None, None),
    (3, 'polygon', _none_params(),
     [_square(9.5, 44.5, 10.5, 45.5), _square(9.8, 44.8, 10.2, 45.2)],
     None, None),
    (4, 'box', _none_params(min_lon=10.2, min_lat=45.1, max_lon=10.9,
                            max_lat=45.6), None, None, None),
    (5, 'circle', _none_params(center_lon=10.3, center_lat=45.2,
                               radius=50_000.0), None,
     datetime(2020, 1, 1), datetime(2020, 2, 1)),
]


@pytest.fixture(scope='module')
def mixed(spark, tmp_path_factory):
    from geostructures_spark.operators.tiling import SHAPES_SCHEMA_DDL
    path = str(tmp_path_factory.mktemp('mixed') / 'shapes.parquet')
    rows = [(sid, kind, params,
             [[{'lon': x, 'lat': y} for x, y in r] for r in rings]
             if rings else None, t0, t1, None)
            for sid, kind, params, rings, t0, t1 in _CATALOG]
    spark.createDataFrame(rows, SHAPES_SCHEMA_DDL).write.parquet(path)
    shapes = spark.read.parquet(path)

    pts_rows = []
    for i, lon in enumerate(np.arange(9.3013, 11.0, 0.05)):
        for j, lat in enumerate(np.arange(44.3017, 45.8, 0.05)):
            ts = T_IN if (i + j) % 2 else T_OUT
            pts_rows.append((f'u{i}_{j}', ts, 0, float(lon), float(lat)))
    points = spark.createDataFrame(
        pts_rows, 'url string, warc_ts timestamp, point_idx int, '
                  'lon double, lat double')
    return points, shapes, pts_rows


def _brute_force(shapes, pts_rows):
    """(url, shape_id) over every pair: right-open time gate, then the
    NumPy kernel containment."""
    from geostructures_spark.kernels import shapes as shp
    from geostructures_spark.operators.tiling import shape_row_to_kernel
    lons = np.array([r[3] for r in pts_rows])
    lats = np.array([r[4] for r in pts_rows])
    out = set()
    for row in shapes.collect():
        d = row.asDict(recursive=True)
        inside = shp.shape_contains_points(shape_row_to_kernel(d), lons, lats)
        for (url, ts, _, _, _), hit in zip(pts_rows, inside):
            timed = d['dt_start'] is not None and d['dt_end'] is not None
            if hit and (not timed or d['dt_start'] <= ts < d['dt_end']):
                out.add((url, d['shape_id']))
    return out


@pytest.mark.parametrize('kwargs', [{}, {'max_broadcast_shapes': 0},
                                    {'salt_shards': 4}],
                         ids=['default', 'no_broadcast', 'salted'])
def test_mixed_catalog_matches_brute_force(spark, mixed, kwargs):
    from geostructures_spark.operators.spatial_join import spatial_join_points
    points, shapes, pts_rows = mixed
    joined = spatial_join_points(points, shapes, length=5, **kwargs)
    assert joined.columns == points.columns + ['cell', 'shape_id']
    got = {(r.url, r.shape_id) for r in joined.collect()}
    brute = _brute_force(shapes, pts_rows)
    # every shape, the timed circle included, matches some points
    assert {sid for _, sid in brute} == {1, 2, 3, 4, 5}
    assert got == brute


def test_mixed_catalog_filter_points_by_shape(spark, mixed):
    from geostructures_spark.operators.spatial_join import filter_points_by_shape
    points, shapes, pts_rows = mixed
    got = {r.url for r in filter_points_by_shape(points, shapes,
                                                 length=5).collect()}
    assert got == {url for url, _ in _brute_force(shapes, pts_rows)}


def test_empty_catalog_joins_to_nothing(spark, mixed):
    from geostructures_spark.operators.spatial_join import spatial_join_points
    points, shapes, _ = mixed
    joined = spatial_join_points(points, shapes.limit(0), length=5)
    assert joined.columns == points.columns + ['cell', 'shape_id']
    assert joined.count() == 0


def _jobs_while(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = build()
        at_build = list(sc.statusTracker().getJobIdsForGroup(group))
        df.count()
        after_action = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    return at_build, after_action


def test_building_joins_runs_no_spark_job(spark, mixed):
    from pyspark.sql import functions as F

    from geostructures_spark.operators.shape_join import shape_join
    from geostructures_spark.operators.spatial_join import spatial_join_points
    points, shapes, _ = mixed
    literal = shapes.filter(F.col('kind') == 'circle').select(
        'shape_id', F.lit('circle').alias('kind'), 'params', 'rings',
        'dt_start', 'dt_end')
    builds = {
        'build_sj_mixed': lambda: spatial_join_points(points, shapes, length=5),
        'build_sj_literal': lambda: spatial_join_points(points, literal,
                                                        length=4),
        'build_sj_salted': lambda: spatial_join_points(points, shapes, length=5,
                                                       salt_shards=4),
        'build_shape_join': lambda: shape_join(shapes, literal, length=4),
    }
    for group, build in builds.items():
        at_build, after_action = _jobs_while(spark, group, build)
        assert at_build == [], group
        # the tracker does see this group's jobs once an action runs
        assert after_action, group
