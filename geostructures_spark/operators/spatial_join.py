"""The spatial join: points x shapes via cell candidates + exact predicates.

Architecture (SURVEY.md §3.2): covers -> cell equi-join -> exact predicate,
with ONE plan per shape kind, chosen per row:

  plain circles: SQL spherical-cap cover rows carrying (center, radius)
                 candidates = points ⋈ covers ON packed (i, j) box key
                 exact      = haversine Column predicate      (JVM, codegen)
  other shapes:  cover_shapes -> (shape_id, cell)
                 candidates = points ⋈ covers ON cell
                 exact      = Arrow-batched kernel predicate over the
                              shape's JSON spec, joined by shape_id (pandas UDF)
  both:          time gate  = right-open interval Column predicate (pre-UDF)
                 result     = union of the two branches' matches

The cell equi-join replaces the reference's per-pair sweep-line pruning
(_geometry.py:223-316) as the candidate structure; the exact predicate
replays contains_coordinate/intersects semantics (structures.py:440-458 etc.)
bit-for-bit via kernels.shapes.

Scale notes:
- building the join runs no Spark job: routing is a per-row filter, and a
  branch the optimizer proves empty (a literal-kind catalog) leaves the plan;
- shape geometries travel to their candidate rows as a JSON spec through a
  shape_id equi-join, never through the driver;
- the cover side is broadcast (shape catalogs are ~10^4-10^6 rows; the
  pages/points side is the 10^12-row one); ``max_broadcast_shapes=0`` drops
  the hint and leaves broadcast vs shuffle to the planner and AQE;
- hot cells (cities) can be salted: ``salt_shards > 0`` replicates cover
  rows per shard and salts the points side, splitting a hot cell across
  ``shards`` tasks; AQE skew-join is the backstop.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geostructures_spark.functions.geo import (
    haversine_expr, interval_contains_instant_expr, niemeyer_quantize_exprs,
)
from geostructures_spark.operators.tiling import (
    cover_shapes, shape_row_to_kernel, with_cell,
)

__all__ = ['spatial_join_points', 'filter_points_by_shape']


def _plain_circle_expr():
    """Plain circle = no holes, radius set (Columns built lazily — module
    import must not require an active SparkContext)."""
    return (
        (F.col('kind') == 'circle') &
        F.col('params').getField('radius').isNotNull() &
        (F.size(F.coalesce(
            F.col('rings'),
            F.array().cast('array<array<struct<lon:double,lat:double>>>'))) <= 0))


def _optimizes_to_empty(df: DataFrame) -> bool:
    """True when Catalyst proves ``df`` empty at plan time (a routing
    filter folded to FALSE over literal kinds). Optimizing runs no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (plan.getClass().getSimpleName() == 'LocalRelation'
            and plan.data().isEmpty())


def _shape_spec_col(shapes: DataFrame):
    """One JSON column carrying the whole shape geometry: specs travel
    through a shape_id equi-join to their candidate rows."""
    fields = [F.col('kind'), F.col('params'), F.col('rings')] + (
        [F.col('poly_sizes')] if 'poly_sizes' in shapes.columns else [])
    names = ['kind', 'params', 'rings'] + (
        ['poly_sizes'] if 'poly_sizes' in shapes.columns else [])
    return F.to_json(F.struct(*[c.alias(n) for c, n in zip(fields, names)]))


def _exact_predicate_spec_udf():
    """Exact containment over shipped shape specs: per Arrow batch, group
    candidate rows by shape_id (argsort), build each kernel dict once from
    its JSON spec, evaluate vectorized. No driver collect, no broadcast."""
    import json

    from geostructures_spark.kernels import shapes as shp

    @F.pandas_udf(T.BooleanType())
    def _pred(shape_id: pd.Series, spec: pd.Series,
              lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(shape_id), dtype=bool)
        if len(shape_id) == 0:
            return pd.Series(out)
        sid = shape_id.to_numpy()
        lons = lon.to_numpy(np.float64)
        lats = lat.to_numpy(np.float64)
        specs = spec.to_numpy()
        order = np.argsort(sid, kind='stable')
        sorted_sid = sid[order]
        bounds = np.flatnonzero(np.r_[True, sorted_sid[1:] != sorted_sid[:-1], True])
        for i in range(len(bounds) - 1):
            sel = order[bounds[i]:bounds[i + 1]]
            shape = shape_row_to_kernel(json.loads(specs[sel[0]]))
            out[sel] = shp.shape_contains_points(shape, lons[sel], lats[sel])
        return pd.Series(out, index=shape_id.index)

    return _pred


_SQL_COVER_MAX_BOXES = 65_536


def _circle_window_exprs(length: int):
    """Bbox-window box-index Columns for plain circles (keyed off the
    ``params`` struct): the spherical-cap bounding box. Every point p with
    hav(p, center) <= r satisfies |lat_p - clat| <= ang and |lon_p - clon|
    <= asin(sin(ang)/cos(clat)) (cap not containing a pole), so the
    window — with a +-1 cell slack for quantization-rule edge cases —
    contains every cell that holds a matching point; cells outside it can
    only hold candidates the exact predicate would reject anyway.
    Full-longitude fallback when the cap touches a pole or the window
    crosses the antimeridian (mirroring the Python cover's fallback).

    Returns (i0, i1, j0, j1, nbox, full) Columns; NULL-free for plain
    circles (radius non-null)."""
    from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
    m = (4 * length) // 2
    w = 360.0 / (1 << m)
    h = 180.0 / (1 << m)
    hi = (1 << m) - 1
    clon = F.col('params').getField('center_lon')
    clat = F.col('params').getField('center_lat')
    ang = F.degrees(F.col('params').getField('radius').cast('double') /
                    F.lit(EARTH_RADIUS_METERS))
    lat_lo = clat - ang
    lat_hi = clat + ang
    pole = (lat_hi >= 90.0) | (lat_lo <= -90.0)
    # tight cap extent; the asin argument is < 1 when no pole is inside,
    # clamped against fp overshoot
    extent = F.degrees(F.asin(F.least(
        F.sin(F.radians(ang)) /
        F.greatest(F.cos(F.radians(clat)), F.lit(1e-12)),
        F.lit(1.0))))
    full = pole | (clon - extent < -180.0) | (clon + extent > 180.0)
    lon_lo = F.when(full, F.lit(-180.0)).otherwise(clon - extent)
    lon_hi = F.when(full, F.lit(180.0)).otherwise(clon + extent)
    i0 = F.greatest(F.floor((lon_lo + 180.0) / w) - 1, F.lit(0)).cast('long')
    i1 = F.least(F.floor((lon_hi + 180.0) / w) + 1, F.lit(hi)).cast('long')
    j0 = F.greatest(F.floor((F.greatest(lat_lo, F.lit(-90.0)) + 90.0) / h) - 1,
                    F.lit(0)).cast('long')
    j1 = F.least(F.floor((F.least(lat_hi, F.lit(90.0)) + 90.0) / h) + 1,
                 F.lit(hi)).cast('long')
    nbox = (i1 - i0 + 1) * (j1 - j0 + 1)
    return i0, i1, j0, j1, nbox, full


def _circle_route_expr(length: int):
    """Per-row routing predicate: this shape takes the circle branch (plain
    circle whose SQL cover window stays within the box cap). A grid of
    2^(4*length) boxes within the cap (length <= 4) cannot bind it, so the
    term is left out: over literal kinds the predicate then folds to a
    constant and the unused branch leaves the plan. Never NULL."""
    ok = _plain_circle_expr()
    if 1 << (4 * length) > _SQL_COVER_MAX_BOXES:
        ok = ok & (_circle_window_exprs(length)[4] <= _SQL_COVER_MAX_BOXES)
    return F.coalesce(ok, F.lit(False))


def _packed_box_key(lon, lat, length: int, drop_chars: int = 0):
    """The circle branch's join key: the (i, j) Niemeyer box indices at
    ``length`` (parent boxes when ``drop_chars`` > 0) packed into a long —
    the same closed-form quantization the SQL cover windows enumerate."""
    s = 2 * drop_chars
    qlon, qlat = niemeyer_quantize_exprs(lon, lat, length)
    return F.shiftleft(F.shiftright(qlon, s), 32).bitwiseOR(F.shiftright(qlat, s))


def _circle_cover_sql(circles: DataFrame, length: int,
                      drop_chars: int = 0, carry=()) -> DataFrame:
    """(shape_id, _ck, _clon, _clat, _r, *carry) cover rows for plain
    circles as a pure Column plan: the bbox enumeration window of
    kernels.tiling_niemeyer._enum_cover, trimmed by a triangle-inequality
    distance test — a SUPERSET of the Python cover, so the exact predicate
    downstream sees every candidate (plus a few extra it rejects; results
    identical). The key ``_ck`` is the packed (i, j) box-index pair
    (_packed_box_key) — no Python stage, no cell string. Callers route with
    _circle_route_expr so the per-shape explode stays bounded. The circle's
    (center, radius) triple and the ``carry`` columns ride every cover row,
    so the exact predicate needs no second join.

    Trim-safety: a cell containing a point p inside the circle satisfies
    hav(center, clamp(center)) <= hav(center, p) + hav(p, clamp(center))
    <= r + (widest parallel arc + meridian height of the cell), so keeping
    every cell with clamped-distance <= r + pad can drop no needed cell.
    Clamping ignores longitude wrap, which over-estimates distance only
    when the window wraps — those shapes fall into the full-longitude
    branch, where the trim is skipped.

    ``drop_chars`` > 0 emits the cover at PARENT-cell granularity (the
    Niemeyer prefix of length - drop_chars chars; one dropped char = 2
    bits per axis): ~16x fewer cover rows per dropped char for the same
    candidate-superset guarantee — the knob that keeps a broadcast
    relation small when candidates are cheap to reject (JVM predicate)."""
    import math as _math

    from geostructures_spark.kernels.geodesy import EARTH_RADIUS_METERS
    assert length - drop_chars >= 1
    s = 2 * drop_chars          # bits dropped per axis
    m = (4 * length) // 2
    w = 360.0 / (1 << (m - s))  # parent-cell geometry
    h = 180.0 / (1 << (m - s))
    i0, i1, j0, j1, _, full = _circle_window_exprs(length)
    clon = F.col('params').getField('center_lon')
    clat = F.col('params').getField('center_lat')
    r = F.col('params').getField('radius').cast('double')
    if s:
        i0, i1 = F.shiftright(i0, s), F.shiftright(i1, s)
        j0, j1 = F.shiftright(j0, s), F.shiftright(j1, s)
    keep_cols = ['shape_id', *carry, '_clon', '_clat', '_r', '_full']
    base = circles.select(
        'shape_id', *carry, clon.alias('_clon'), clat.alias('_clat'),
        r.alias('_r'), full.alias('_full'),
        i0.alias('_i0'), i1.alias('_i1'),
        j0.alias('_j0'), j1.alias('_j1'))
    if drop_chars == 0:
        # parallelize big fine-grained explodes: the shapes side typically
        # scans from a small file (1-2 input partitions) — a tiny keyed
        # repartition spreads the window enumeration over the cluster.
        # Prefix covers (~16x fewer rows per dropped char) skip the extra
        # shuffle stage.
        spark = circles.sparkSession
        n_parts = max(8, spark.sparkContext.defaultParallelism)
        base = base.repartition(n_parts, 'shape_id')
    rows = (base
            .select(*keep_cols, '_j0', '_j1',
                    F.explode(F.sequence('_i0', '_i1')).alias('_i'))
            .select(*keep_cols, '_i',
                    F.explode(F.sequence('_j0', '_j1')).alias('_j')))
    lon_lo = F.lit(-180.0) + F.col('_i') * w
    lat_lo = F.lit(-90.0) + F.col('_j') * h
    lon_cl = F.least(F.greatest(F.col('_clon'), lon_lo), lon_lo + w)
    lat_cl = F.least(F.greatest(F.col('_clat'), lat_lo), lat_lo + h)
    # widest parallel of the cell (the latitude nearest the equator)
    lat_wide = F.when((lat_lo <= 0.0) & (lat_lo + h >= 0.0), F.lit(0.0)) \
        .otherwise(F.least(F.abs(lat_lo), F.abs(lat_lo + h)))
    pad = (haversine_expr(F.lit(0.0), lat_wide, F.lit(w), lat_wide) +
           F.lit(EARTH_RADIUS_METERS * _math.radians(h)))
    keep = F.col('_full') | (
        haversine_expr(F.col('_clon'), F.col('_clat'), lon_cl, lat_cl)
        <= F.col('_r') + pad)
    key = F.shiftleft(F.col('_i'), 32).bitwiseOR(F.col('_j')).alias('_ck')
    return rows.filter(keep).select('shape_id', key, '_clon', '_clat', '_r',
                                    *carry)


def _candidates(points: DataFrame, covers: DataFrame, key: str,
                salt_shards: int, broadcast: bool) -> DataFrame:
    """points ⋈ covers ON ``key``; with ``salt_shards`` > 0 the cover rows
    are replicated per shard and the points side is salted (cell#shard)."""
    if salt_shards > 0:
        spark = points.sparkSession
        shards = spark.range(salt_shards).select(F.col('id').cast('int').alias('_shard'))
        covers = (covers.crossJoin(F.broadcast(shards))
                  .withColumn('join_key', F.concat_ws(
                      '#', key, F.col('_shard').cast('string')))
                  .drop(key, '_shard'))
        points = points.withColumn(
            'join_key',
            F.concat_ws('#', F.col(key),
                        F.pmod(F.xxhash64(*[c for c in ('url', 'lon', 'lat')
                                            if c in points.columns]),
                               F.lit(salt_shards)).cast('string')))
        key = 'join_key'
    return points.join(F.broadcast(covers) if broadcast else covers, key)


def spatial_join_points(
    points: DataFrame,
    shapes: DataFrame,
    length: int = 8,
    base: int = 16,
    time_gated: bool = True,
    salt_shards: int = 0,
    cell_col: str = 'cell',
    max_broadcast_shapes: Optional[int] = None,
) -> DataFrame:
    """points ⨝ shapes with exact containment (point-probe semantics of
    contains/intersects, which coincide for points — structures.py:156-157).

    Returns all point columns (plus ``cell_col`` when the call assigns it)
    + shape_id. ``time_gated`` applies the right-open instant-in-interval
    predicate (reference _base.py:282-291: time gate short-circuits before
    spatial) using points.warc_ts vs shapes dt_start/dt_end; shapes with
    NULL dt match all times (untimed shapes tested spatially,
    collections.py:447-452).

    Each shape is routed by kind (module docstring): plain circles take the
    all-JVM plan, every other shape the shipped-spec plan. The cover side
    is broadcast unless ``max_broadcast_shapes`` is 0, which leaves the
    choice to the planner and AQE and builds circle covers at full cell
    resolution. Building the result runs no Spark job."""
    if cell_col not in points.columns:
        points = with_cell(points, length, base, cell_col=cell_col)
    out_cols = points.columns + ['shape_id']
    gated = time_gated and 'warc_ts' in points.columns
    dt_cols = ['dt_start', 'dt_end'] if gated else []
    broadcast = max_broadcast_shapes != 0

    def matches(cand: DataFrame, exact) -> DataFrame:
        if gated:
            no_dt = F.col('dt_start').isNull() | F.col('dt_end').isNull()
            cand = cand.filter(no_dt | interval_contains_instant_expr(
                F.col('dt_start'), F.col('dt_end'), F.col('warc_ts')))
        return cand.filter(exact).select(*out_cols)

    route = _circle_route_expr(length)
    circles, others = shapes.filter(route), shapes.filter(~route)
    parts = []
    # a branch proven empty leaves the plan; an empty catalog keeps the
    # (Python-free) circle branch so the result still has its schema
    if not _optimizes_to_empty(circles) or _optimizes_to_empty(others):
        # exact containment for a circle is haversine(point, center) <=
        # radius — the identical formula (and argument order) the NumPy
        # kernel evaluates (kernels/shapes.py:291-293), as a JVM Column
        # expression: no Arrow boundary, no Python workers, whole-stage
        # codegen through the candidate join. A broadcast cover is emitted
        # at parent-cell granularity (one char dropped): ~16x fewer rows
        # for a modest candidate inflation the haversine filter absorbs.
        drop = 1 if broadcast and length >= 2 else 0
        covers = _circle_cover_sql(circles, length, drop, dt_cols)
        keyed = points.withColumn(
            '_ck', _packed_box_key(F.col('lon'), F.col('lat'), length, drop))
        cand = _candidates(keyed, covers, '_ck', salt_shards, broadcast)
        parts.append(matches(cand, haversine_expr(
            F.col('lon'), F.col('lat'), F.col('_clon'), F.col('_clat'))
            <= F.col('_r')))
    if not _optimizes_to_empty(others):
        covers = cover_shapes(
            others, length, base,
            n_partitions=points.sparkSession.sparkContext.defaultParallelism)
        cand = _candidates(points, covers.withColumnRenamed('cell', cell_col),
                           cell_col, salt_shards, broadcast)
        specs = others.select('shape_id', *dt_cols,
                              _shape_spec_col(others).alias('_spec'))
        pred = _exact_predicate_spec_udf()
        parts.append(matches(cand.join(specs, 'shape_id'), pred(
            F.col('shape_id'), F.col('_spec'), F.col('lon'), F.col('lat'))))
    return reduce(DataFrame.unionByName, parts)


def filter_points_by_shape(points: DataFrame, shapes: DataFrame,
                           **kwargs) -> DataFrame:
    """filter_by_intersection with a point-set left side
    (collections.py:119-131): semi-join — points that fall in ANY shape."""
    joined = spatial_join_points(points, shapes, **kwargs)
    key_cols = [c for c in ('url', 'warc_ts', 'point_idx') if c in points.columns]
    return points.join(joined.select(*key_cols).distinct(), key_cols, 'left_semi')
