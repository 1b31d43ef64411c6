"""Seeded landed inputs for the benchmark workloads.

Everything the program under test sees is a Parquet file written here,
during set-up, with pyarrow from a ``numpy`` generator seeded by the
workload seed. The same seed gives byte-identical files, and the plan
(which file is dirty, which change set follows which file) is a pure
function of the seed and the operation counts.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# reference data_loader schema (README.md:135-139): int32, string, float64
TRICKLE_SCHEMA = pa.schema(
    [
        ("my_col_0", pa.int32()),
        ("my_col_1", pa.string()),
        ("my_col_2", pa.float64()),
    ]
)
_WORDS = np.array(
    (
        "amber birch cedar delta ember fjord grove harbor inlet juniper "
        "kestrel lagoon meadow nectar orchid prairie quartz ridge summit "
        "thicket umber vale willow zenith"
    ).split()
)
_MAX_INT = 1317317  # reference randint upper bound (data_loader.py:72)

# lineitem-shaped: the TPC-H columns an upsert pipeline keys, audits,
# aggregates and looks up; (l_orderkey, l_linenumber) is the key
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
        ("l_shipmode", pa.string()),
        ("l_comment", pa.string()),
    ]
)
LINEITEM_KEY = ["l_orderkey", "l_linenumber"]
LINES_PER_ORDER = 4
QUANTITY_RANGE = (1.0, 50.0)  # RangeCheck bounds; dirty files break them
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_MODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_EPOCH = dt.date(1992, 1, 1)


# ----------------------------------------------------------------------
# wap_trickle: reference-schema files, every 10th with the null row
# ----------------------------------------------------------------------
def _word_triples(rng: np.random.Generator, n: int) -> list[str]:
    """Three seeded word picks joined by spaces (the reference's
    friendlywords-style strings)."""
    picks = rng.integers(0, len(_WORDS), (n, 3))
    return [" ".join(w) for w in _WORDS[picks]]


def trickle_file(rng: np.random.Generator, rows: int, dirty: bool) -> pa.Table:
    n = rows - 1 if dirty else rows
    c0 = rng.integers(1, _MAX_INT, n, dtype=np.int32)
    c1 = _word_triples(rng, n)
    c2 = np.arange(n, dtype=np.float64) * rng.random(n)
    cols = [c0.tolist(), c1, c2.tolist()]
    if dirty:  # the reference's failing fixture: one NULL per column
        cols = [c + [None] for c in cols]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRICKLE_SCHEMA)],
        schema=TRICKLE_SCHEMA,
    )


def trickle_change_set(rng: np.random.Generator, rows: int, index: int) -> pa.Table:
    """The ``index``-th MERGE source keyed on ``my_col_0``: ``rows`` keys
    above every landed key and every earlier change set's keys, so the
    merge is an idempotent insert that must first prove each key new."""
    first = _MAX_INT + index * 10 * rows
    keys = (first + rng.choice(10 * rows, rows, replace=False)).astype(np.int32)
    n = len(keys)
    return pa.Table.from_arrays(
        [
            pa.array(keys, pa.int32()),
            pa.array(_word_triples(rng, n), pa.string()),
            pa.array(rng.random(n) * 1000.0, pa.float64()),
        ],
        schema=TRICKLE_SCHEMA,
    )


# ----------------------------------------------------------------------
# lake_upsert: lineitem-shaped batches over contiguous order-key ranges
# ----------------------------------------------------------------------
def lineitem_rows(
    rng: np.random.Generator, first_order: int, orders: int
) -> pa.Table:
    """``orders`` consecutive orders starting at ``first_order``, each
    with ``LINES_PER_ORDER`` lines. Contiguous key ranges per file are
    what lets stats prune a key-range lookup and a keyed merge."""
    ok = np.repeat(np.arange(first_order, first_order + orders, dtype=np.int64), LINES_PER_ORDER)
    ln = np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), orders)
    return _lineitem_table(rng, ok, ln)


def _lineitem_table(rng: np.random.Generator, ok: np.ndarray, ln: np.ndarray) -> pa.Table:
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    ship = np.datetime64(_EPOCH, "D") + rng.integers(0, 2400, n)
    comments = pa.array(rng.integers(0, 1 << 32, n)).cast(pa.string())
    cols = {
        "l_orderkey": ok,
        "l_linenumber": ln,
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": _STATUS[rng.integers(0, 2, n)],
        "l_shipdate": ship,
        "l_shipmode": _MODES[rng.integers(0, len(_MODES), n)],
        "l_comment": comments,
    }
    return pa.Table.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in LINEITEM_SCHEMA],
        schema=LINEITEM_SCHEMA,
    )


def lineitem_dirty(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Break the audits a landed batch must pass: one quantity out of
    ``QUANTITY_RANGE`` and one duplicated key."""
    rows = table.to_pylist()
    i, j = rng.choice(len(rows), 2, replace=False)
    rows[i]["l_quantity"] = QUANTITY_RANGE[1] * 10
    rows[j]["l_orderkey"] = rows[i]["l_orderkey"]
    rows[j]["l_linenumber"] = rows[i]["l_linenumber"]
    return pa.Table.from_pylist(rows, schema=LINEITEM_SCHEMA)


def lineitem_change_set(
    rng: np.random.Generator, live_orders: np.ndarray, updates: int, insert_orders: int, next_order: int
) -> pa.Table:
    """MERGE source: ``updates`` existing keys (clustered in one order-key
    window, as a late-arriving correction feed is) plus
    ``insert_orders`` new orders."""
    window = max(updates // LINES_PER_ORDER * 2, 1)
    lo = int(rng.integers(0, max(len(live_orders) - window, 1)))
    cand = live_orders[lo : lo + window]
    chosen_orders = np.sort(rng.choice(cand, min(len(cand), updates), replace=True))
    chosen_lines = rng.integers(1, LINES_PER_ORDER + 1, len(chosen_orders)).astype(np.int32)
    pairs = np.unique(np.stack([chosen_orders, chosen_lines], axis=1), axis=0)
    ok = np.concatenate(
        [pairs[:, 0], np.repeat(np.arange(next_order, next_order + insert_orders), LINES_PER_ORDER)]
    ).astype(np.int64)
    ln = np.concatenate(
        [pairs[:, 1], np.tile(np.arange(1, LINES_PER_ORDER + 1), insert_orders)]
    ).astype(np.int32)
    return _lineitem_table(rng, ok, ln)


@dataclasses.dataclass
class Landing:
    """The directory a workload's inputs land in."""

    root: str

    def land(self, name: str, table: pa.Table) -> str:
        """Write one landed file; fixed writer options, so its bytes
        depend only on the data."""
        path = os.path.join(self.root, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", write_statistics=True)
        return path
