"""Seeded, resized copies of the testdata tables.

Each table keeps the column names and types of its testdata counterpart and
is written as one parquet file with one row group, as the testdata files
are. Every column the queries derive from (keys, text, timestamps, user ids)
is drawn from a NumPy generator seeded by the workload seed, so the same
seed writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the documents vocabulary and languages of the testdata generator
WORDS = ('a agg batch big column customer data dup fast filter group hash join '
         'key line merge order part query row scan slow small sort spark '
         'stream table the value vector window').split()
LANGS = (('en', 0.41), ('zh', 0.15), ('es', 0.15), ('fr', 0.15), ('de', 0.14))
SEGMENTS = ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY')
EVENT_TYPES = ('click', 'error', 'purchase', 'signup', 'view')
EPOCH = np.datetime64('2024-01-01T00:00:00', 'us')
EVENT_SPAN_US = 30 * 86400 * 1_000_000

SCHEMAS = {
    'customer': pa.schema([('c_custkey', pa.int64()), ('c_name', pa.string()),
                           ('c_nationkey', pa.int32()), ('c_acctbal', pa.float64()),
                           ('c_mktsegment', pa.string())]),
    'supplier': pa.schema([('s_suppkey', pa.int64()), ('s_name', pa.string()),
                           ('s_nationkey', pa.int32()), ('s_acctbal', pa.float64())]),
    'documents': pa.schema([('doc_id', pa.int64()), ('text', pa.string()),
                            ('lang', pa.string()), ('source', pa.string()),
                            ('n_chars', pa.int64())]),
    'events': pa.schema([('event_id', pa.int64()), ('ts', pa.timestamp('us')),
                         ('user_id', pa.int64()), ('event_type', pa.string()),
                         ('value', pa.float64()), ('props', pa.string())]),
}


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct sorted keys from [0, 20n): the derived lon/lat of a key is
    (key * prime) mod a period, so sparse keys move every derived point."""
    return np.sort(rng.choice(20 * n, size=n, replace=False)).astype(np.int64)


def _money(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def customer(rng: np.random.Generator, n: int) -> pd.DataFrame:
    k = _keys(rng, n)
    return pd.DataFrame({
        'c_custkey': k,
        'c_name': [f'Customer#{x:09d}' for x in k],
        'c_nationkey': rng.integers(0, 25, n).astype(np.int32),
        'c_acctbal': _money(rng, n),
        'c_mktsegment': np.asarray(SEGMENTS, dtype=object)[rng.integers(0, 5, n)],
    })


def supplier(rng: np.random.Generator, n: int) -> pd.DataFrame:
    k = _keys(rng, n)
    return pd.DataFrame({
        's_suppkey': k,
        's_name': [f'Supplier#{x:09d}' for x in k],
        's_nationkey': rng.integers(0, 25, n).astype(np.int32),
        's_acctbal': _money(rng, n),
    })


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    k = _keys(rng, n)
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), lengths.sum())]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [' '.join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    langs, p = zip(*LANGS)
    return pd.DataFrame({
        'doc_id': k,
        'text': text,
        'lang': np.asarray(langs, dtype=object)[rng.choice(len(langs), n, p=p)],
        'source': [f'src{x}' for x in rng.integers(0, 20, n)],
        'n_chars': np.fromiter((len(t) for t in text), np.int64, n),
    })


def events(rng: np.random.Generator, n: int, users: int) -> pd.DataFrame:
    """Pings in event_id order with strictly increasing microsecond
    timestamps, so no user has two pings at one instant and every
    per-user ordering by ts is total."""
    k = _keys(rng, n)
    gaps = rng.integers(1, 2 * (EVENT_SPAN_US // n), n)
    return pd.DataFrame({
        'event_id': k,
        'ts': EPOCH + np.cumsum(gaps).astype('timedelta64[us]'),
        'user_id': rng.integers(0, users, n).astype(np.int64),
        'event_type': np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        'value': np.round(rng.exponential(50.0, n), 2),
        'props': [f'{{"k": {x}}}' for x in rng.integers(0, 100, n)],
    })


def content_hash(df: pd.DataFrame) -> str:
    """Order-independent digest of a table's rows: the sum of two
    differently keyed 64-bit row hashes, so equal multisets of rows give
    equal digests whatever the row order."""
    parts = []
    for key in ('batchbench-key-0', 'batchbench-key-1'):
        h = pd.util.hash_pandas_object(df, index=False, hash_key=key)
        parts.append(int(h.to_numpy(np.uint64).sum(dtype=np.uint64)))
    return '%016x%016x' % tuple(parts)


# table -> (its own random stream of the seed, generator)
MAKERS = {'customer': (1, customer), 'supplier': (2, supplier),
          'documents': (3, documents), 'events': (4, events)}


def write_tables(out_dir: str, seed: int, sizes: dict) -> dict:
    """Write the tables named in ``sizes`` (table -> rows, or for events a
    (rows, users) pair) under ``out_dir``. Each table draws from its own
    stream of the seed. Returns table -> {'rows', 'hash'}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, size in sorted(sizes.items()):
        stream, make = MAKERS[name]
        rng = np.random.default_rng([seed, stream])
        args = size if isinstance(size, tuple) else (size,)
        df = make(rng, *args)
        table = pa.Table.from_pandas(df, schema=SCHEMAS[name], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f'{name}.parquet'),
                       row_group_size=max(len(df), 1))
        info[name] = {'rows': len(df), 'hash': content_hash(df)}
    return info
