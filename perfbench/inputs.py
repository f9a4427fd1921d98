"""Seeded benchmark inputs: TPC-H-shaped parquet tables and CSV files.

Every input is a pure function of ``(seed, generator version)``.  Files are
written under a per-seed directory with a manifest of their sha256 digests;
a later run with the same seed reuses them only when every digest still
matches, so a stale or truncated file is rebuilt instead of measured.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when any generator below changes, so cached inputs are rebuilt.
VERSION = 1

# Table sizes (rows).  lineitem is derived from orders (1-7 lines each,
# ~4 on average), so it lands near 4 * N_ORDERS.
N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_PARTS = 2_000
N_SUPPLIERS = 100
N_DOCUMENTS = 500
N_EVENTS = 10_000

# CSV sizes (rows): the reference's speed-test shape (2 quoted columns, no
# header) and a wider headered file with quoted delimiters in 10% of rows.
N_SPEED_ROWS = 10_000
N_WIDE_ROWS = 5_000

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000      # 1995-01-01T00:00:00
_EPOCH_2024_US = 1_704_067_200_000_000    # 2024-01-01T00:00:00

_WORDS = ['join', 'hash', 'row', 'batch', 'scan', 'column', 'customer',
          'filter', 'small', 'slow', 'merge', 'order', 'vector', 'line',
          'table', 'data', 'agg', 'value', 'key', 'stream', 'window', 'a',
          'spark', 'part', 'group', 'big', 'sort', 'query', 'fast', 'the']
_COLORS = ['red', 'blue', 'green', 'black', 'white', 'small', 'large', 'tiny']
_NOUNS = ['widget', 'bolt', 'ring', 'gear', 'nut', 'screw', 'pipe', 'valve']
_HERBS = ['parsley', 'sage', 'rosemary', 'thyme']


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, 'rb') as f:
        for block in iter(lambda: f.read(1 << 20), b''):
            h.update(block)
    return h.hexdigest()


def _cached(root: str, kind: str, seed: int, build) -> str:
    """Directory holding ``kind`` inputs for ``seed``; ``build(dir, rng)``
    writes them when no verified copy exists.  Inputs of other seeds are
    removed, so repeated runs do not accumulate them."""
    name = '{}-v{}-seed{}'.format(kind, VERSION, seed)
    out = os.path.join(root, name)
    os.makedirs(root, exist_ok=True)
    for other in os.listdir(root):
        if other.startswith(kind + '-') and other != name:
            shutil.rmtree(os.path.join(root, other), ignore_errors=True)
    manifest = os.path.join(out, '_MANIFEST.json')
    if os.path.exists(manifest):
        with open(manifest) as f:
            digests = json.load(f)
        if all(os.path.exists(os.path.join(out, n))
               and _sha256(os.path.join(out, n)) == d
               for n, d in digests.items()):
            return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out, np.random.default_rng([VERSION, seed]))
    digests = {n: _sha256(os.path.join(out, n))
               for n in sorted(os.listdir(out))}
    with open(manifest, 'w') as f:
        json.dump(digests, f, indent=1)
    return out


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype('int64'), type=pa.timestamp('us'))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, name + '.parquet'))


def _build_tables(out: str, rng) -> None:
    _write(out, 'region', {
        'r_regionkey': pa.array(np.arange(5), pa.int32()),
        'r_name': ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST']})
    _write(out, 'nation', {
        'n_nationkey': pa.array(np.arange(25), pa.int32()),
        'n_name': ['NATION_{}'.format(i) for i in range(25)],
        'n_regionkey': pa.array(np.arange(25) % 5, pa.int32())})
    _write(out, 'customer', {
        'c_custkey': np.arange(N_CUSTOMERS, dtype='int64'),
        'c_name': ['Customer#{:09d}'.format(i) for i in range(N_CUSTOMERS)],
        'c_nationkey': pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        'c_acctbal': _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        'c_mktsegment': rng.choice(['MACHINERY', 'FURNITURE', 'BUILDING',
                                    'AUTOMOBILE', 'HOUSEHOLD'], N_CUSTOMERS)})
    _write(out, 'supplier', {
        's_suppkey': np.arange(N_SUPPLIERS, dtype='int64'),
        's_name': ['Supplier#{:09d}'.format(i) for i in range(N_SUPPLIERS)],
        's_nationkey': pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        's_acctbal': _money(rng, -999.99, 9999.99, N_SUPPLIERS)})
    _write(out, 'part', {
        'p_partkey': np.arange(N_PARTS, dtype='int64'),
        'p_name': [rng.choice(_COLORS) + ' ' + rng.choice(_NOUNS)
                   for _ in range(N_PARTS)],
        'p_brand': ['Brand#{}'.format(b) for b in rng.integers(1, 26, N_PARTS)],
        'p_type': rng.choice(['ECONOMY', 'SMALL', 'MEDIUM', 'LARGE',
                              'STANDARD', 'PROMO'], N_PARTS),
        'p_size': pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        'p_retailprice': np.round(900 + (np.arange(N_PARTS) % 1000) / 10, 1)})
    _write(out, 'orders', {
        'o_orderkey': np.arange(N_ORDERS, dtype='int64'),
        'o_custkey': rng.integers(0, N_CUSTOMERS, N_ORDERS),
        'o_orderstatus': rng.choice(['P', 'O', 'F'], N_ORDERS),
        'o_totalprice': _money(rng, 1000, 500000, N_ORDERS),
        'o_orderdate': _ts(_EPOCH_1995_US
                           + rng.integers(0, 2400, N_ORDERS) * _DAY_US),
        'o_orderpriority': rng.choice(['1-URGENT', '2-HIGH', '3-MEDIUM',
                                       '4-NOT SPECIFIED', '5-LOW'], N_ORDERS)})
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    order = np.repeat(np.arange(N_ORDERS), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out, 'lineitem', {
        'l_orderkey': order.astype('int64'),
        'l_partkey': rng.integers(0, N_PARTS, n),
        'l_suppkey': rng.integers(0, N_SUPPLIERS, n),
        'l_linenumber': pa.array(np.arange(n) - first + 1, pa.int32()),
        'l_quantity': rng.integers(1, 51, n).astype('float64'),
        'l_extendedprice': _money(rng, 900, 105000, n),
        'l_discount': rng.integers(0, 11, n) / 100,
        'l_tax': rng.integers(0, 9, n) / 100,
        'l_returnflag': rng.choice(['A', 'N', 'R'], n),
        'l_linestatus': rng.choice(['O', 'F'], n),
        'l_shipdate': _ts(_EPOCH_1995_US + rng.integers(0, 2500, n) * _DAY_US)})
    texts = [' '.join(rng.choice(_WORDS, rng.integers(8, 90)))
             for _ in range(N_DOCUMENTS)]
    _write(out, 'documents', {
        'doc_id': np.arange(N_DOCUMENTS, dtype='int64'),
        'text': texts,
        'lang': rng.choice(['en', 'zh', 'es', 'de', 'fr'], N_DOCUMENTS,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        'source': ['src{}'.format(i % 20) for i in range(N_DOCUMENTS)],
        'n_chars': np.array([len(t) for t in texts], dtype='int64')})
    gaps = rng.integers(1, 2 * 30 * _DAY_US // N_EVENTS, N_EVENTS)
    _write(out, 'events', {
        'event_id': np.arange(N_EVENTS, dtype='int64'),
        'ts': _ts(_EPOCH_2024_US + np.cumsum(gaps)),
        'user_id': rng.integers(0, 150, N_EVENTS),
        'event_type': rng.choice(['signup', 'error', 'click', 'view',
                                  'purchase'], N_EVENTS),
        'value': _money(rng, 0.01, 490.0, N_EVENTS),
        'props': ['{{"k": {}}}'.format(k) for k in rng.integers(0, 100, N_EVENTS)]})


def _build_csv(out: str, rng) -> None:
    # speed-test shape: "<price>","<item>" with no header
    prices = rng.integers(0, 1000, N_SPEED_ROWS)
    items = rng.choice(_HERBS, N_SPEED_ROWS)
    with open(os.path.join(out, 'speed.csv'), 'w', newline='') as f:
        csv.writer(f, quoting=csv.QUOTE_ALL, lineterminator='\n').writerows(
            zip(prices.tolist(), items.tolist()))
    # headered 8 columns; every 10th row carries a delimiter inside a quoted
    # field, which forces the quote-aware splitter
    n = N_WIDE_ROWS
    city = rng.choice(['Oslo', 'Lima', 'Pune', 'Kyiv', 'Doha', 'Faro'], n)
    note = np.where(np.arange(n) % 10 == 3, 'x, y', 'plain')
    cols = [np.arange(n), rng.choice(_HERBS, n), city,
            rng.integers(0, 10_000, n), rng.integers(1, 100, n),
            rng.choice(['A', 'B', 'C', 'D'], n), note,
            [' '.join(rng.choice(_WORDS, 3)) for _ in range(n)]]
    with open(os.path.join(out, 'wide.csv'), 'w', newline='') as f:
        w = csv.writer(f, lineterminator='\n')
        w.writerow(['id', 'item', 'city', 'amount', 'qty', 'grade', 'note',
                    'tags'])
        w.writerows(zip(*[list(map(str, c)) for c in cols]))


def parquet_dir(root: str, seed: int) -> str:
    """Directory of ``<table>.parquet`` files for ``seed``."""
    return _cached(root, 'tables', seed, _build_tables)


def csv_dir(root: str, seed: int) -> str:
    """Directory holding ``speed.csv`` and ``wide.csv`` for ``seed``."""
    return _cached(root, 'csv', seed, _build_csv)
