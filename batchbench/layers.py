"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions on exactly the
inputs the workload's query hands that layer. The inputs are captured by
building the query's DataFrame once (lazily, nothing runs) with the layer
function wrapped to record its arguments. Spark-side probes write into a
noop sink under their own job group, so the event log keeps them apart
from the timed passes; kernel probes run single-core in this process.
"""

from __future__ import annotations

import inspect
import statistics
import time
from contextlib import contextmanager

import numpy as np

from geostructures_spark.kernels import h3_core, niemeyer
from geostructures_spark.operators import miner, spatial_join, tiling, tracks

# every per-layer metric this module reports; the caller reports 0 for a
# layer that no probe of the run entered
LAYER_METRICS = (
    'miner.mine_s', 'miner.points',
    'kernels.niemeyer_encode_s', 'kernels.h3_cell_s',
    'tiling.with_cell_s',
    'spatial_join.join_s', 'spatial_join.candidate_rows',
    'spatial_join.match_rows', 'spatial_join.match_ratio',
    'tracks.filter_s', 'tracks.greedy_keep_s', 'tracks.kept_ratio',
)
# the optimizer rules that fold a filter above a join into the join's
# condition; excluding them for one probe exposes the candidate rows
_PUSHDOWN_RULES = ','.join(f'org.apache.spark.sql.catalyst.optimizer.{r}'
                           for r in ('PushDownPredicates', 'PushPredicateThroughJoin'))
JOIN_ROWS_GROUP = 'layer-spatial_join.rows'


@contextmanager
def captured(module, name: str):
    """Record every call to ``module.name`` as its bound arguments,
    defaults filled in."""
    calls = []
    real = getattr(module, name)
    sig = inspect.signature(real)

    def spy(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append(bound)
        return real(*args, **kwargs)
    setattr(module, name, spy)
    try:
        yield calls
    finally:
        setattr(module, name, real)


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# timings per probe: Spark probes take seconds, kernel probes a fraction
NOOP_REPS, KERNEL_REPS = 2, 3


class Probes:
    def __init__(self, spark, spans):
        self.spark, self.spans = spark, spans

    def _noop(self, name: str, df) -> float:
        """Median wall time of writing ``df`` into the noop sink."""
        def write():
            df.write.format('noop').mode('overwrite').save()
        self.spark.sparkContext.setJobGroup(f'layer-{name}', name)
        with self.spans.span(f'layer:{name}'):
            return _median_time(write, NOOP_REPS)

    def _kernel(self, name: str, fn) -> float:
        with self.spans.span(f'layer:{name}'):
            return _median_time(fn, KERNEL_REPS)

    def run(self, workload: str, build_query) -> dict:
        """Probe the layers of ``workload``'s query and return their
        metrics; ``build_query(name)`` returns the (unexecuted) DataFrame of
        a queries() entry."""
        out = {}
        getattr(self, '_' + workload)(build_query, out)
        return out

    def _ingest_pages(self, build_query, out: dict) -> None:
        with captured(miner, 'mine_cell_counts') as calls:
            build_query('pages_mine_cells')
        kw = calls[0].arguments
        points = miner.mine_points(kw['pages'], from_html=kw['from_html'])
        out['miner.mine_s'] = self._noop('miner.mine', points)
        self.spark.sparkContext.setJobGroup('layer-miner.points', 'miner.points')
        pdf = points.select('lon', 'lat').toPandas()
        out['miner.points'] = len(pdf)
        lon, lat = pdf['lon'].to_numpy(np.float64), pdf['lat'].to_numpy(np.float64)
        length, base = kw['cell_length'], kw['cell_base']
        out['kernels.niemeyer_encode_s'] = self._kernel(
            'kernels.niemeyer_encode', lambda: niemeyer.encode(lon, lat, length, base))

    def _tile_points(self, build_query, out: dict) -> None:
        with captured(tiling, 'with_cell') as calls:
            build_query('niemeyer_cell_counts')
            build_query('h3_cell_counts')
        # both tilings of a pass, each into the noop sink
        out['tiling.with_cell_s'] = sum(
            self._noop(f"tiling.with_cell.{c.arguments['scheme']}",
                       tiling.with_cell(*c.args, **c.kwargs))
            for c in calls)
        # the H3 kernel on the points the h3 query tiles, at its resolution
        a = next(c for c in calls if c.arguments['scheme'] == 'h3').arguments
        self.spark.sparkContext.setJobGroup('layer-kernels.h3_input', 'h3 input')
        pdf = a['df'].select(a['lat'], a['lon']).toPandas()
        lat = pdf[a['lat']].to_numpy(np.float64)
        lon = pdf[a['lon']].to_numpy(np.float64)
        out['kernels.h3_cell_s'] = self._kernel(
            'kernels.h3_cell', lambda: h3_core.latlng_to_cell(lat, lon, a['resolution']))

    def _geofence_join(self, build_query, out: dict) -> None:
        with captured(spatial_join, 'spatial_join_points') as calls:
            build_query('spatial_join_circles')
        args, kw = calls[0].args, calls[0].kwargs
        out['spatial_join.join_s'] = self._noop(
            'spatial_join.join', spatial_join.spatial_join_points(*args, **kw))
        # one untimed run with the filter kept above the join: the join
        # node's output rows are then the candidates, the filter's the matches
        conf = self.spark.conf
        conf.set('spark.sql.optimizer.excludedRules', _PUSHDOWN_RULES)
        try:
            self.spark.sparkContext.setJobGroup(JOIN_ROWS_GROUP, 'join rows')
            spatial_join.spatial_join_points(*args, **kw) \
                .write.format('noop').mode('overwrite').save()
        finally:
            conf.unset('spark.sql.optimizer.excludedRules')

    def _track_filter(self, build_query, out: dict) -> None:
        with captured(tracks, 'filter_impossible_journeys') as calls:
            build_query('impossible_journeys')
        c = calls[0]
        out['tracks.filter_s'] = self._noop(
            'tracks.filter', tracks.filter_impossible_journeys(*c.args, **c.kwargs))
        kw = c.arguments
        entity_col, time_col = kw['entity_col'], kw['time_col']
        speed = kw['max_speed_mps']
        self.spark.sparkContext.setJobGroup('layer-tracks.pings', 'pings')
        pdf = (kw['tracks'].select(entity_col, time_col, kw['lon_col'], kw['lat_col'])
               .toPandas().sort_values([entity_col, time_col], kind='stable'))
        ts = pdf[time_col].astype('int64').to_numpy() / 1e9
        lon = pdf[kw['lon_col']].to_numpy(np.float64)
        lat = pdf[kw['lat_col']].to_numpy(np.float64)
        bounds = np.flatnonzero(np.diff(pdf[entity_col].to_numpy())) + 1
        groups = list(zip(np.r_[0, bounds], np.r_[bounds, len(pdf)]))
        kept = []

        def scan():
            kept.clear()
            for s, e in groups:
                keep, _ = tracks.greedy_keep(lon[s:e], lat[s:e], ts[s:e], speed)
                kept.append(int(keep.sum()))
        out['tracks.greedy_keep_s'] = self._kernel('tracks.greedy_keep', scan)
        out['tracks.kept_ratio'] = sum(kept) / max(len(pdf), 1)


def join_rows(log, out: dict) -> None:
    """Fill the spatial-join row counts from the event log of the probe
    run made with the filter kept above the join."""
    pairs = [(j, f) for j, f in log.join_rows(JOIN_ROWS_GROUP) if f is not None]
    if pairs:
        cand, match = max(pairs)
        out['spatial_join.candidate_rows'] = cand
        out['spatial_join.match_rows'] = match
        out['spatial_join.match_ratio'] = match / cand if cand else 0
