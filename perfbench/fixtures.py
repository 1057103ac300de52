"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed: the pages
fixture (``sparkolumnar.datagen.pages_table``), a ``lineitem`` +
``orders`` pair with the full schema and column distributions of the
repository's TPC-H test tables (TESTDATA.md; doubles included), and
every probe / DML predicate the op mixes send.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_FILES = 8
_DAY_US = 86_400_000_000
SHIP_LO = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499          # 1995-01-02 .. 2001-11-04, as in the sf0.1 tables
ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2405
RETURN_FLAGS = ("A", "N", "R")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


PAGES_CORPUS_SEED = 42
# Seeds pick one of this many row windows of the pages corpus, so any
# seed, however large, keeps warc_ts well inside the timestamp range.
PAGES_WINDOWS = 10_000


def pages_start(seed: int, n_rows: int) -> int:
    """First row of the seed's window. Windows start on a generation
    granule (datagen.CELL), so every seed generates the same number of
    granules and set-up time does not depend on where the window falls."""
    from sparkolumnar.datagen import CELL

    cells = -(-n_rows // CELL)
    return seed % PAGES_WINDOWS * cells * CELL


def write_pages(path: str, n_rows: int, seed: int) -> str:
    """Rows [pages_start(seed, n_rows), + n_rows) of the pages corpus
    (datagen.pages_table with its default corpus seed) as PAGES_FILES
    parquet files, kept across runs of the same seed.

    The workload seed picks which rows, not the corpus model: every seed
    draws a different window from the same vocabulary and host
    distribution. pages_table keys its random streams by absolute row
    granule, so the split into files does not change the content."""
    from sparkolumnar.datagen import pages_table

    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    start = pages_start(seed, n_rows)
    for i in range(PAGES_FILES):
        lo = start + i * n_rows // PAGES_FILES
        hi = start + (i + 1) * n_rows // PAGES_FILES
        tbl = pages_table(hi - lo, seed=PAGES_CORPUS_SEED, start_row=lo)
        pq.write_table(tbl, os.path.join(path, f"part-{i:04d}.parquet"),
                       row_group_size=50_000)
    open(done, "w").close()
    return path


def _days(rng, n, lo: dt.datetime, days: int) -> pa.Array:
    base = int((lo - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    us = base + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    """Uniform on [lo, hi) rounded to 2 decimals, so the two end values
    come up half as often as the inner ones."""
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(sf: float, seed: int):
    """(lineitem, orders): 6M*sf lineitem rows over 1.5M*sf orders.

    Modelled on the repository's TPC-H test tables (TESTDATA.md), whose
    columns are independent uniform draws in unsorted row order: keys
    uniform over their ranges, doubles uniform and rounded to cents,
    flags and statuses uniform and uncorrelated with the dates.
    ``perfbench/fixture_check.py`` compares these tables with the test
    tables column by column, down to the codec each column's blocks
    select and the bytes it stores."""
    rng = np.random.default_rng([seed, 0x7C9])
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    flags = rng.integers(0, 6, n_li)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n_li),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, n_li, 900.0, 105_000.0),
        "l_discount": _cents(rng, n_li, 0.0, 0.1),
        "l_tax": _cents(rng, n_li, 0.0, 0.08),
        "l_returnflag": pa.array(np.array(RETURN_FLAGS, dtype=object)[flags % 3]),
        "l_linestatus": pa.array(np.array(("O", "F"), dtype=object)[flags // 3]),
        "l_shipdate": _days(rng, n_li, SHIP_LO, SHIP_DAYS),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, int(150_000 * sf)), n_ord),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"), dtype=object)[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, ORDER_LO, ORDER_DAYS),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[
            rng.integers(0, len(PRIORITIES), n_ord)]),
    })
    return lineitem, orders


def write_tpch(base: str, sf: float, seed: int) -> dict:
    """Write lineitem/orders parquet under `base`; returns {name: path}."""
    lineitem, orders = tpch_tables(sf, seed)
    out = {}
    for name, tbl in (("lineitem", lineitem), ("orders", orders)):
        path = os.path.join(base, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-0000.parquet"),
                       row_group_size=100_000)
        out[name] = path
    return out


def raw_bytes(path: str) -> int:
    """Raw Arrow bytes of a parquet directory (the MB/s numerator)."""
    return int(pq.read_table(path).nbytes)


# ---- predicate draws -------------------------------------------------

def _window(rng, lo: dt.datetime, days: int, width: int):
    start = lo + dt.timedelta(days=int(rng.integers(0, days - width)))
    return start, start + dt.timedelta(days=width)


def lineitem_predicates(rng, n_orders: int) -> dict:
    """One iteration's predicates on lineitem (filters= tuples)."""
    r_lo, r_hi = _window(rng, SHIP_LO, SHIP_DAYS, 30)
    d_lo, d_hi = _window(rng, SHIP_LO, SHIP_DAYS, 7)
    i_lo, i_hi = _window(rng, SHIP_LO, SHIP_DAYS, 60)
    flags = sorted(rng.choice(RETURN_FLAGS, 2, replace=False).tolist())
    return {
        "range": [("l_shipdate", "between", r_lo, r_hi)],
        "eq": [("l_orderkey", "=", int(rng.integers(0, n_orders)))],
        "in_range": [("l_returnflag", "in", flags),
                     ("l_shipdate", "between", i_lo, i_hi)],
        "delete": [("l_shipdate", "between", d_lo, d_hi),
                   ("l_returnflag", "=", str(rng.choice(RETURN_FLAGS)))],
        # read back around the deleted window, so the bitmaps apply
        "range_del": [("l_shipdate", "between",
                       d_lo - dt.timedelta(days=10),
                       d_hi + dt.timedelta(days=10))],
    }


PAGES_TS_LO = dt.datetime(2025, 9, 12)   # datagen.BASE_TS_US


def pages_predicates(rng, seed: int, n_rows: int) -> dict:
    """One iteration's predicates on write_pages(seed, n_rows): warc_ts
    advances ~1 s per row from PAGES_TS_LO + the window's first row."""
    lo = PAGES_TS_LO + dt.timedelta(seconds=pages_start(seed, n_rows))
    span_min = n_rows // 60

    def ts_window(width_min):
        width_min = min(width_min, span_min // 2)
        start = lo + dt.timedelta(
            minutes=int(rng.integers(0, span_min - width_min)))
        return start, start + dt.timedelta(minutes=width_min)

    r_lo, r_hi = ts_window(120)
    d_lo, d_hi = ts_window(240)
    langs = sorted({f"l{int(i):02d}" for i in rng.integers(1, 30, 3)})
    return {
        "range": [("warc_ts", "between", r_lo, r_hi)],
        "in": [("lang", "in", langs)],
        "delete": [("lang", "=", "en"), ("warc_ts", "between", d_lo, d_hi)],
        "range_del": [("warc_ts", "between", d_lo, d_hi)],
    }
