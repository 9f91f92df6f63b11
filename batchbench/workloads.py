"""The workloads: which tables they generate, how large, which
``queries()`` entry one pass runs, and the DuckDB oracle that checks
every pass."""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass

import duckdb
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    # the queries() entries one pass runs, in order
    queries: tuple
    # table -> rows, or for events (rows, users)
    tables: dict
    # the table whose rows count as the pass's input rows
    input_table: str
    why: str
    # a workload outside BENCHMARK.json whose inputs and layer probes this
    # workload's traced run also covers, so that its layers stay measured
    side: str | None = None

    def sizes(self, scale: float) -> dict:
        return scale_sizes(self.tables, scale)


def scale_sizes(tables: dict, scale: float) -> dict:
    """Every row count in ``tables`` times ``scale``, at least 4."""
    def rows(n: int) -> int:
        return max(4, round(n * scale))
    return {t: tuple(rows(x) for x in s) if isinstance(s, tuple) else rows(s)
            for t, s in tables.items()}


WORKLOADS = {w.name: w for w in (
    Workload('ingest_pages', ('pages_mine_cells',),
             {'documents': 80_000}, 'documents',
             'the deployed pages path: html->text, Arrow regex miner, NumPy '
             'Niemeyer encode, a partial-count shuffle and a large collect',
             side='track_filter'),
    Workload('tile_points', ('niemeyer_cell_counts', 'h3_cell_counts'),
             {'customer': 60_000}, 'customer',
             'tiling only: the JVM closed-form Niemeyer encode beside the '
             'Arrow H3 kernel UDF, after a scan-widening repartition; no '
             'miner, no join',
             side='geofence_join'),
    Workload('geofence_join', ('spatial_join_circles',),
             {'customer': 50_000, 'supplier': 250}, 'customer',
             'the headline spatial join: a blocking catalog-size collect, '
             'strategy choice and the cell-keyed candidate join'),
    Workload('track_filter', ('impossible_journeys',),
             {'events': (40_000, 400)}, 'events',
             'the grouped-Python path: a whole-row shuffle into an '
             'applyInPandas greedy scan per user'),
)}

_TABLE_NAMES = ('customer', 'supplier', 'documents', 'events')


def _load_compare():
    """scripts/check_oracles.py:compare, the repository's proven oracle
    comparison (exact, row order ignored)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, 'scripts', 'check_oracles.py')
    spec = importlib.util.spec_from_file_location('check_oracles', path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class OracleCheck:
    """Runs the query's ``oracle_sql()`` text once in DuckDB over the
    generated files, then checks pass results against its answer."""

    def __init__(self, data_dir: str, query: str, oracle_sql: str):
        self._compare = _load_compare()
        con = duckdb.connect()
        try:
            for t in _TABLE_NAMES:
                p = os.path.join(data_dir, f'{t}.parquet')
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.query = query
            self.expected = con.execute(oracle_sql).fetchdf()
        finally:
            con.close()

    def check(self, result: pd.DataFrame) -> str:
        """'OK' or the first mismatch found."""
        return self._compare(self.query, result, self.expected)


def perturb(result: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``result`` with one value changed: the first numeric
    column's first row is incremented, else the first string is extended."""
    out = result.copy()
    for c in out.columns:
        if pd.api.types.is_numeric_dtype(out[c]) and len(out):
            out.loc[out.index[0], c] = out[c].iloc[0] + 1
            return out
    c = out.columns[0]
    out.loc[out.index[0], c] = str(out[c].iloc[0]) + 'x'
    return out
