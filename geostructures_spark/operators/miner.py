"""Coordinate mining: pages(html/text) -> points(url, warc_ts, point_idx, lon, lat).

The first stage of the engine's pipeline (SURVEY.md §2.1 "pages scan +
text -> coordinate mining"). Two steps:

1. ``extract_text``: html BINARY -> text STRING, a pure JVM-side expression
   (cast + regexp) — byte-identical inverse of the generator's wrapper,
   enforced by tests (north_rule: byte-identical extracted text per url).
2. ``mine_points``: Arrow-batched ``mapInArrow``. Each batch's texts are
   scanned in place in the Arrow value buffer (no per-row Python strings),
   one compiled bytes pattern per mention kind (decimal, DMS, QDMS; DMS
   only when the batch holds a degree sign). The per-kind matches, merged
   by position, are exactly the combined ``MENTION_REGEX`` alternation's
   leftmost-first matches whenever no two of them overlap; a batch where
   two overlap is scanned again with the combined pattern. Match offsets
   map back to rows with searchsorted, the groups of each kind convert
   vectorized with NumPy using the reference's exact formulas
   (coordinates.py:127-148 from_dms — no rounding; :181-203 from_qdms —
   round_half_up at 6 decimals), and the exploded points frame is emitted
   directly (no intermediate array column).

``point_idx`` is the mention ordinal within the page (FIXTURES.md §2):
matches sorted by position, then a per-row running count.
"""

from __future__ import annotations

import re
from operator import itemgetter

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geostructures_spark.kernels.geodesy import normalize_lonlat, round_half_up

__all__ = ['extract_text_expr', 'mine_points', 'MENTION_REGEX']

_DEC = r'coords@(?P<flag>lonlat|latlon): (?P<a>-?\d+(?:\.\d+)?), (?P<b>-?\d+(?:\.\d+)?)'
_DMS = (r'(?P<lod>\d+)°(?P<lom>\d+)\'(?P<los>\d+(?:\.\d+)?)"(?P<loq>[EW]) '
        r'(?P<lad>\d+)°(?P<lam>\d+)\'(?P<las>\d+(?:\.\d+)?)"(?P<laq>[NS])')
_QDMS = r'(?P<qlon>[EW]\d{9}) (?P<qlat>[NS]\d{8})'
MENTION_REGEX = f'(?:{_DEC})|(?:{_DMS})|(?:{_QDMS})'

POINTS_SCHEMA = ('url string, warc_ts timestamp, point_idx int, '
                 'lon double, lat double, fmt string')


def extract_text_expr(html_col: Column) -> Column:
    """html BINARY -> text STRING, byte-exact inverse of the generator
    wrapper. JVM-side: binary->string cast is UTF-8; (?s) keeps newlines."""
    return F.regexp_extract(html_col.cast('string'), r'(?s)^<html><body>(.*)</body></html>$', 1)


# (kind, compiled bytes pattern); a kind is its index in the alternation.
# QDMS is scanned once per leading letter: a literal first byte lets the
# regex engine skip ahead about 15x faster than the class [EW], and the two
# scans find exactly the matches of [EW], since no QDMS match can start
# inside another (only its first byte is a letter E or W)
_KIND_PATTERNS = tuple((kind, re.compile(p.encode('utf-8'))) for kind, p in (
    (0, _DEC), (1, _DMS),
    (2, _QDMS.replace('[EW]', 'E', 1)), (2, _QDMS.replace('[EW]', 'W', 1))))
_COMPILED_BYTES = re.compile(MENTION_REGEX.encode('utf-8'))
_DMS_KIND = 1
_DEGREE = re.compile('°'.encode('utf-8'))
# slices of the combined pattern's groups that belong to each kind
_KIND_GROUPS = ((0, 3), (3, 11), (11, 13))
_FMTS = np.array(['decimal', 'dms', 'qdms'], dtype=object)


def _kind_points(kind, groups):
    """lon/lat arrays of one kind's regex groups (tuples of bytes), by the
    reference's exact formulas: coordinates.py:127-148 from_dms (no
    rounding) and :181-203 from_qdms (round_half_up at 6 decimals)."""
    n = len(groups)
    col = lambda i: list(map(itemgetter(i), groups))
    num = lambda i: np.fromiter(map(float, col(i)), np.float64, n)
    # one-byte-per-row view of fixed-width groups
    chars = lambda i, width: np.frombuffer(b''.join(col(i)), np.uint8).reshape(n, width)
    if kind == 0:
        is_lonlat = chars(0, 6)[:, 1] == ord('o')   # lOnlat / lAtlon
        a, b = num(1), num(2)
        return np.where(is_lonlat, a, b), np.where(is_lonlat, b, a)
    if kind == 1:
        lon = num(0) + num(1) / 60 + num(2) / 3600
        lon *= np.where(chars(3, 1)[:, 0] == ord('W'), -1.0, 1.0)
        lat = num(4) + num(5) / 60 + num(6) / 3600
        lat *= np.where(chars(7, 1)[:, 0] == ord('S'), -1.0, 1.0)
        return lon, lat
    # QDMS: [EW]DDDMMSSss [NS]DDMMSSss. Whole degrees and minutes are exact
    # in float64, and SSss / 100 is the correctly rounded double of the
    # decimal 'SS.ss', as float() would parse it.
    out = []
    for i, deg_w, neg in ((0, 3, ord('W')), (1, 2, ord('S'))):
        c = chars(i, deg_w + 7)
        d = (c[:, 1:] - ord('0')).astype(np.int64)
        ten = 10 ** np.arange(deg_w - 1, -1, -1)
        deg = d[:, :deg_w] @ ten
        mins = d[:, deg_w:deg_w + 2] @ [10, 1]
        sec = d[:, deg_w + 2:] @ [1000, 100, 10, 1]
        v = deg + mins / 60 + sec / 100 / 3600
        v *= np.where(c[:, 0] == neg, -1.0, 1.0)
        out.append(round_half_up(v, 6))
    return out[0], out[1]


def _spans(ms):
    """(n, 2) int64 array of the matches' (start, end)."""
    out = np.empty((len(ms), 2), dtype=np.int64)
    out[:, 0] = np.fromiter(map(re.Match.start, ms), np.int64, len(ms))
    out[:, 1] = np.fromiter(map(re.Match.end, ms), np.int64, len(ms))
    return out


def _scan_combined(data, pos=0, endpos=None):
    """The combined alternation's leftmost-first ``finditer`` over
    ``data[pos:endpos]``, as (kind, spans, groups) per kind."""
    by_kind = ([], [], [])
    for m in _COMPILED_BYTES.finditer(data, pos, len(data) if endpos is None else endpos):
        g = m.groups()
        by_kind[0 if g[0] is not None else (1 if g[3] is not None else 2)].append(m)
    return [(kind, _spans(ms), [m.groups()[lo:hi] for m in ms])
            for kind, (ms, (lo, hi)) in enumerate(zip(by_kind, _KIND_GROUPS))]


def _scan(data):
    """Every mention in ``data`` as (kind, spans, groups) per pattern.

    Each kind is scanned with its own patterns (DMS only when the buffer
    holds a degree sign). While no two candidates overlap, their union is
    exactly the combined alternation's leftmost-first ``finditer``, match
    for match and group for group: wherever one kind matches, that kind's
    own scan has a candidate, and wherever two kinds match, two candidates
    overlap. If any two overlap, the buffer is scanned once more with the
    combined pattern."""
    found = []
    for kind, pat in _KIND_PATTERNS:
        if kind == _DMS_KIND and _DEGREE.search(data) is None:
            continue
        ms = list(pat.finditer(data))
        found.append((kind, _spans(ms), list(map(re.Match.groups, ms))))
    spans = np.concatenate([s for _, s, _ in found])
    spans = spans[np.argsort(spans[:, 0], kind='stable')]
    if (spans[1:, 0] < spans[:-1, 1]).any():
        return _scan_combined(data)
    return found


def _points(found):
    """(spans, lon, lat, kind) arrays of (kind, spans, groups) scan results."""
    parts = [(s, *_kind_points(k, g), np.full(len(g), k)) for k, s, g in found if g]
    if not parts:
        z = np.zeros(0)
        return np.zeros((0, 2), np.int64), z, z.copy(), np.zeros(0, np.int64)
    return tuple(np.concatenate(c) for c in zip(*parts))


def _mine_arrow_batch(text_arr):
    """Zero-copy mine over a pyarrow StringArray: byte-regex directly on the
    Arrow value buffer (no per-row Python string objects). Returns (row_idx,
    point_idx, lon, lat, fmt).

    Rows are adjacent in the value buffer with no separator; matches whose
    span crosses a row boundary are discarded and the touched rows re-scanned
    individually (rare: needs a mention split across two pages)."""
    import pyarrow as pa
    arr = text_arr.combine_chunks() if isinstance(text_arr, pa.ChunkedArray) else text_arr
    n_rows = len(arr)
    if n_rows == 0:
        data, rel = b'', np.zeros(1, np.int64)
    else:
        bufs = arr.buffers()
        off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset:arr.offset + n_rows + 1].astype(np.int64)
        data = memoryview(bufs[2])[offs[0]:offs[-1]] if bufs[2] is not None else b''
        rel = offs - offs[0]

    spans, lon, lat, kind = _points(_scan(data))
    r0 = np.searchsorted(rel, spans[:, 0], side='right') - 1
    r1 = np.searchsorted(rel, spans[:, 1] - 1, side='right') - 1
    crossing = r0 != r1
    if crossing.any():
        bad_rows = np.union1d(r0[crossing], r1[crossing])
        keep = ~np.isin(r0, bad_rows)
        # rescan the affected rows individually
        parts = [(spans[keep], lon[keep], lat[keep], kind[keep])] + [
            _points(_scan_combined(data, rel[r], rel[r + 1])) for r in bad_rows]
        spans, lon, lat, kind = (np.concatenate(c) for c in zip(*parts))

    order = np.argsort(spans[:, 0], kind='stable')
    row_idx = np.searchsorted(rel, spans[order, 0], side='right') - 1
    lon, lat = normalize_lonlat(lon[order], lat[order])
    n = len(order)
    point_idx = np.zeros(n, dtype=np.int64)
    if n > 1:
        change = np.r_[True, row_idx[1:] != row_idx[:-1]]
        seg_starts = np.flatnonzero(change)
        seg_id = np.cumsum(change) - 1
        point_idx = np.arange(n) - seg_starts[seg_id]
    return row_idx, point_idx, lon, lat, _FMTS[kind[order]]


def mine_points(pages: DataFrame, from_html: bool = False,
                cell_length: int | None = None, cell_base: int = 16) -> DataFrame:
    """pages -> points with (url, warc_ts, point_idx, lon, lat, fmt[, cell]).

    Column-prunes to (url, warc_ts, text) before the Arrow boundary so the
    heavy ``html`` binary never crosses it (unless ``from_html`` exercises
    the extraction path).

    Arrow-native (mapInArrow): the mention regex runs directly over the
    Arrow string value buffer as bytes — no per-row Python string objects
    are ever materialized. ``cell_length`` fuses the Niemeyer cell
    assignment into the same Python stage (mine + tile in one JVM<->Python
    crossing) — the scale path for the pages pipeline."""
    text_col = extract_text_expr(F.col('html')) if from_html else F.col('text')
    pruned = pages.select('url', 'warc_ts', text_col.alias('_text'))

    schema = POINTS_SCHEMA + (', cell string' if cell_length else '')

    def run(batches):
        import pyarrow as pa
        from geostructures_spark.kernels import niemeyer as nie
        for batch in batches:
            row_idx, point_idx, lon, lat, fmt = _mine_arrow_batch(batch.column(2))
            idx = pa.array(row_idx, type=pa.int64())
            cols = [
                batch.column(0).take(idx),
                batch.column(1).take(idx),
                pa.array(point_idx.astype(np.int32), type=pa.int32()),
                pa.array(lon, type=pa.float64()),
                pa.array(lat, type=pa.float64()),
                pa.array(fmt.astype(str), type=pa.string()),
            ]
            names = ['url', 'warc_ts', 'point_idx', 'lon', 'lat', 'fmt']
            if cell_length:
                cols.append(pa.array(nie.encode(lon, lat, cell_length, cell_base).astype(str),
                                     type=pa.string()))
                names.append('cell')
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return pruned.mapInArrow(run, schema=schema)


def mine_cell_counts(pages: DataFrame, from_html: bool = False,
                     cell_length: int = 8, cell_base: int = 16) -> DataFrame:
    """pages -> (cell, n) partial counts: the minimal-payload fused path for
    tiling aggregation (hash_coordinates at web scale).

    Mines and tiles inside one Arrow stage and pre-aggregates per batch with
    np.unique, so the bytes returned to the JVM (and the following shuffle)
    carry only (cell, partial count) — the full points frame never
    materializes. Finish with groupBy('cell').agg(sum('n'))."""
    text_col = extract_text_expr(F.col('html')) if from_html else F.col('text')
    pruned = pages.select(text_col.alias('_text'))

    def run(batches):
        import pyarrow as pa
        from geostructures_spark.kernels import niemeyer as nie
        for batch in batches:
            _, _, lon, lat, _ = _mine_arrow_batch(batch.column(0))
            cells = nie.encode(lon, lat, cell_length, cell_base)
            uniq, counts = np.unique(cells, return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(uniq.astype(str), type=pa.string()),
                 pa.array(counts.astype(np.int64), type=pa.int64())],
                names=['cell', 'n'])

    partial = pruned.mapInArrow(run, schema='cell string, n long')
    return partial.groupBy('cell').agg(F.sum('n').alias('n'))
