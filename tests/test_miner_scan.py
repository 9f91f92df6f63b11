"""The miner's per-kind mention scan (operators/miner.py) against the
definition it replaces: ``MENTION_REGEX``'s combined leftmost-first
``finditer`` over each row's text, converted by the reference formulas
(coordinates.py:127-148 from_dms, :181-203 from_qdms)."""

import re

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from geostructures_spark.kernels.geodesy import normalize_lonlat, round_half_up
from geostructures_spark.operators import miner
from geostructures_spark.operators.miner import MENTION_REGEX, _mine_arrow_batch

from tests.test_spark_operators import spark  # shared session fixture

__ = spark
settings.register_profile('gate', derandomize=True)
settings.load_profile('gate')

_COMBINED = re.compile(MENTION_REGEX.encode('utf-8'))


def _oracle(rows):
    """(row, ordinal, lon, lat, fmt) of every mention, row by row."""
    out = []
    for r, text in enumerate(rows):
        for j, m in enumerate(_COMBINED.finditer(text.encode('utf-8'))):
            g = {k: (v.decode() if v is not None else None)
                 for k, v in m.groupdict().items()}
            if g['flag'] is not None:
                a, b = float(g['a']), float(g['b'])
                lon, lat = (a, b) if g['flag'] == 'lonlat' else (b, a)
                out.append((r, j, lon, lat, 'decimal'))
            elif g['lod'] is not None:
                lon = float(g['lod']) + float(g['lom']) / 60 + float(g['los']) / 3600
                lat = float(g['lad']) + float(g['lam']) / 60 + float(g['las']) / 3600
                out.append((r, j, -lon if g['loq'] == 'W' else lon,
                            -lat if g['laq'] == 'S' else lat, 'dms'))
            else:
                s, t = g['qlon'], g['qlat']
                lon = (float(s[1:4]) + float(s[4:6]) / 60
                       + float(s[6:8] + '.' + s[8:]) / 3600)
                lat = (float(t[1:3]) + float(t[3:5]) / 60
                       + float(t[5:7] + '.' + t[7:]) / 3600)
                lon = float(round_half_up(-lon if s[0] == 'W' else lon, 6))
                lat = float(round_half_up(-lat if t[0] == 'S' else lat, 6))
                out.append((r, j, lon, lat, 'qdms'))
    if not out:
        return [], [], np.zeros(0), np.zeros(0), []
    row, idx, lon, lat, fmt = zip(*out)
    lon, lat = normalize_lonlat(np.array(lon), np.array(lat))
    return list(row), list(idx), lon, lat, list(fmt)


def _assert_same(arr, rows):
    row, idx, lon, lat, fmt = _mine_arrow_batch(arr)
    w_row, w_idx, w_lon, w_lat, w_fmt = _oracle(rows)
    assert row.tolist() == w_row
    assert idx.tolist() == w_idx
    # bit-identical floats
    assert lon.tobytes() == np.asarray(w_lon, np.float64).tobytes()
    assert lat.tobytes() == np.asarray(w_lat, np.float64).tobytes()
    assert fmt.tolist() == w_fmt


_digits = st.text('0123456789', min_size=1, max_size=4)
_num = st.builds(lambda neg, i, f: ('-' if neg else '') + i + ('.' + f if f else ''),
                 st.booleans(), _digits, st.one_of(st.just(''), _digits))
_dec = st.builds(lambda flag, a, b: f'coords@{flag}: {a}, {b}',
                 st.sampled_from(['lonlat', 'latlon']), _num, _num)
_dms_half = st.builds(lambda d, m, s, f, q: f'{d}°{m}\'{s}{"." + f if f else ""}"{q}',
                      _digits, _digits, _digits, st.one_of(st.just(''), _digits),
                      st.sampled_from('EWNS'))
_dms = st.builds(lambda a, b: f'{a} {b}', _dms_half, _dms_half)
_qdms = st.builds(lambda e, lon, n, lat: f'{e}{lon} {n}{lat}',
                  st.sampled_from('EW'), st.text('0123456789', min_size=9, max_size=9),
                  st.sampled_from('NS'), st.text('0123456789', min_size=8, max_size=8))
# filler: ASCII, the mention alphabet, multi-byte UTF-8 (a non-ASCII digit
# among them, which the byte patterns' \d must not match)
_filler = st.text(' abcENSW0123456789°\'".,:@-é中٣😀', max_size=12)


def _rows(fragments, cuts):
    """Cut the joined fragments into rows at ``cuts`` (char offsets, so a
    mention may cross a row boundary and equal cuts give empty rows)."""
    text = ''.join(fragments)
    bounds = [0] + sorted(c % (len(text) + 1) for c in cuts) + [len(text)]
    return [text[a:b] for a, b in zip(bounds, bounds[1:])]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(_dec, _dms, _qdms, _filler), max_size=14),
       st.lists(st.integers(0, 10_000), max_size=6),
       st.integers(0, 3), st.booleans())
def test_scan_matches_combined_finditer(fragments, cuts, pad, large):
    rows = _rows(fragments, cuts)
    typ = pa.large_string() if large else pa.string()
    _assert_same(pa.array(rows, type=typ), rows)
    # the same rows as a slice with offset != 0 of a padded array
    padded = pa.array(['E123456789 N12345678'] * pad + rows + ['coords@lonlat: 1, 2'],
                      type=typ)
    _assert_same(padded.slice(pad, len(rows)), rows)


def _spy(monkeypatch):
    calls = []
    real = miner._scan_combined

    def spy(data, pos=0, endpos=None):
        calls.append((pos, endpos))
        return real(data, pos, endpos)
    monkeypatch.setattr(miner, '_scan_combined', spy)
    return calls


@pytest.mark.parametrize('text', [
    # a QDMS whose digits run into a DMS degree sign
    'x E123456789 N12345678°30\'15"E 45°10\'20"N y',
    # a decimal whose last number runs into a DMS degree sign
    'coords@lonlat: 1, 23°4\'5"E 6°7\'8"N',
])
def test_overlapping_kinds_take_the_combined_scan(monkeypatch, text):
    calls = _spy(monkeypatch)
    _assert_same(pa.array([text]), [text])
    assert calls == [(0, None)]
    # the per-kind candidates alone would have given an extra mention
    data = text.encode('utf-8')
    n_kind = sum(len(list(p.finditer(data))) for _, p in miner._KIND_PATTERNS)
    assert n_kind > len(list(_COMBINED.finditer(data)))


def test_disjoint_kinds_skip_the_combined_scan(monkeypatch):
    calls = _spy(monkeypatch)
    rows = ['a coords@latlon: -1.5, 2 b 1°2\'3"W 4°5\'6.5"S c E123456789 N12345678',
            '', 'no degree sign here, coords@lonlat: 7, 8 W001020304 S01020304']
    _assert_same(pa.array(rows), rows)
    assert calls == []


def test_mention_across_row_boundary():
    rows = ['p coords@lonlat: 1', '0, 20 q coords@latlon: 3, 4',
            'E12345', '6789 N12345678 1°2\'3"E 4°5\'6"N']
    row, idx, _, _, fmt = _mine_arrow_batch(pa.array(rows))
    # row 0's split mention is not a mention of either row
    assert list(zip(row.tolist(), idx.tolist(), fmt.tolist())) == [
        (1, 0, 'decimal'), (3, 0, 'dms')]
    _assert_same(pa.array(rows), rows)


@pytest.mark.parametrize('rows', [[], [''], ['', '', ''], ['no mentions é中']])
def test_empty_inputs(rows):
    _assert_same(pa.array(rows, type=pa.string()), rows)


def test_degree_sign_gates_dms_only(monkeypatch):
    # without a degree sign the DMS pattern never runs
    ran = []

    class Probe:
        def __init__(self, pat):
            self.pat = pat

        def finditer(self, data):
            ran.append(1)
            return self.pat.finditer(data)
    monkeypatch.setattr(miner, '_KIND_PATTERNS', tuple(
        (k, Probe(p) if k == miner._DMS_KIND else p) for k, p in miner._KIND_PATTERNS))
    rows = ['coords@lonlat: 1, 2 E123456789 N12345678']
    _assert_same(pa.array(rows), rows)
    assert ran == []
    rows = ['1°2\'3"E 4°5\'6"N']
    _assert_same(pa.array(rows), rows)
    assert ran == [1]


def test_mine_points_on_pages_matches_oracle(spark):
    # the generated pages carry decimal, DMS and QDMS mentions
    from geostructures_spark.operators.miner import mine_points
    from geostructures_spark.sources.pages import pages_df
    pages = pages_df(spark, 400, seed=11).select('url', 'text').collect()
    got = sorted((r.url, r.point_idx, r.lon, r.lat, r.fmt) for r in mine_points(
        pages_df(spark, 400, seed=11)).collect())
    row, idx, lon, lat, fmt = _oracle([p.text for p in pages])
    want = sorted((pages[r].url, i, x, y, f)
                  for r, i, x, y, f in zip(row, idx, lon.tolist(), lat.tolist(), fmt))
    assert got == want
    assert {'decimal', 'dms', 'qdms'} <= set(fmt)
