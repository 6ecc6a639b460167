"""Seeded generator of DMS-shaped CDC inputs (pyarrow only, no engine).

Writes TPC-H-shaped ``customer``/``orders``/``lineitem`` tables (sizes in
``ROWS``) in the reference's S3 layout
``fair/<table>/YYYY/MM/DD/<file>.parquet``: ``LOAD*`` full-load files per
table plus CDC files carrying ``Op``, ``load_timestamp`` and the
``updated``/``created`` source times.  Every value comes from a
``numpy.random.Generator`` seeded by the caller, so one seed gives the
same bytes of input every time.

The inputs are built so the final state is fully determined by the
engine's documented semantics (dedup cascade + version gate +
tombstones): in-file duplicate keys tie on ``load_timestamp`` often
enough to exercise the Op / updated / created / row-order tie-breakers,
and rows of different files never share a ``load_timestamp`` for one
table, so the grouping of files into micro-batches cannot change the
answer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us", tz="UTC")
#: base load time: every LOAD row carries it; CDC versions are later,
#: except the deliberately late file
T0_US = 1_709_251_200_000_000          # 2024-03-01T00:00:00Z
MINUTE_US = 60_000_000
DAY = ("2024", "03", "01")

KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
#: sf0.1 row counts for customer and orders; lineitem is cut from 600k
#: to 200k (50k orders x 4 lines) so a trickle run fits the time budget
ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 200_000}
LINES_PER_ORDER = 4
#: row counts of successive small CDC files (10-100, mean 45): the same
#: size schedule for every seed, so seeds vary file contents, not shape
SMALL_FILE_ROWS = (40, 25, 70, 15, 100, 30, 55, 10, 85, 20)
ADDED_COLUMN = ("orders", "o_comment")
LOAD_FILE_ROWS = 100_000

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                        "4-NOT SPECIFIED", "5-LOW"])


def table_keys_json() -> str:
    import json
    return json.dumps(KEYS)


def _ts(rng, n, lo_day=8000, hi_day=10500):
    """Whole-day timestamps between 1991 and 1998 (TPC-H date range)."""
    return rng.integers(lo_day, hi_day, n) * 86_400_000_000


def _values(table: str, keys: dict[str, np.ndarray], rng) -> dict:
    """Fresh data columns for the given key rows."""
    n = len(next(iter(keys.values())))
    if table == "customer":
        k = keys["c_custkey"]
        return {
            "c_custkey": pa.array(k, pa.int64()),
            "c_name": pa.array([f"Customer#{x:09d}" for x in k]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
            "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n)]),
        }
    if table == "orders":
        return {
            "o_orderkey": pa.array(keys["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(rng.integers(1, ROWS["customer"] + 1, n),
                                  pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])
                                      [rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(800, 500_000, n), 2)),
            "o_orderdate": pa.array(_ts(rng, n), TS),
            "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n)]),
        }
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(keys["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n), pa.int64()),
        "l_linenumber": pa.array(keys["l_linenumber"], pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_ts(rng, n), TS),
    }


def _base_keys(table: str) -> dict[str, np.ndarray]:
    n = ROWS[table]
    if table == "lineitem":
        orders = n // LINES_PER_ORDER
        return {"l_orderkey": np.repeat(np.arange(1, orders + 1), LINES_PER_ORDER),
                "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1), orders)}
    return {KEYS[table][0]: np.arange(1, n + 1)}


def _path(root: str, table: str, name: str) -> str:
    d = os.path.join(root, "fair", table, *DAY)
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def table_dir(path: str) -> str:
    """``.../fair/<table>`` of a file under ``.../fair/<table>/YYYY/MM/DD``."""
    for _ in DAY:
        path = os.path.dirname(path)
    return os.path.dirname(path)


def _write(path: str, cols: dict) -> str:
    pq.write_table(pa.table(cols), path)
    return path


def write_load_files(root: str, table: str, seed: int) -> list[str]:
    """The DMS full load: every base row as an ``I`` at T0, split into
    ``LOAD*`` files of at most ``LOAD_FILE_ROWS`` rows as DMS splits
    large tables.  Full loads carry the same column set as CDC files
    (``includeOpForFullLoad``), so a stream's schema inference over the
    table directory sees one schema."""
    rng = np.random.default_rng([seed, 0, list(KEYS).index(table)])
    keys = _base_keys(table)
    n = ROWS[table]
    cols = _values(table, keys, rng)
    created = T0_US - rng.integers(MINUTE_US, 1_000 * MINUTE_US, n)
    cols["updated"] = pa.array(created, pa.int64())
    cols["created"] = pa.array(created, pa.int64())
    cols["Op"] = pa.array(np.full(n, "I"))
    cols["load_timestamp"] = pa.array(np.full(n, T0_US), TS)
    full = pa.table(cols)
    paths = []
    for j, lo in enumerate(range(0, n, LOAD_FILE_ROWS)):
        path = _path(root, table, f"LOAD{j + 1:08d}.parquet")
        pq.write_table(full.slice(lo, LOAD_FILE_ROWS), path)
        paths.append(path)
    return paths


@dataclass
class CdcFile:
    """One generated CDC file: where it is, which table, and its role."""
    path: str
    table: str
    rows: int
    kind: str = "cdc"        # cdc | schema_add | late | stale


class KeySpace:
    """Per-table key universe: skewed picks of existing keys (hot keys
    are small key values) and fresh keys for inserts."""

    def __init__(self, table: str):
        self.table = table
        self.n = ROWS[table]
        self.next_new = (self.n // LINES_PER_ORDER if table == "lineitem"
                         else self.n) + 1

    def existing(self, rng, n: int, skew: float) -> dict[str, np.ndarray]:
        idx = np.minimum((self.n * rng.random(n) ** skew).astype(np.int64),
                         self.n - 1)
        if self.table == "lineitem":
            return {"l_orderkey": idx // LINES_PER_ORDER + 1,
                    "l_linenumber": idx % LINES_PER_ORDER + 1}
        return {KEYS[self.table][0]: idx + 1}

    def fresh(self, n: int) -> dict[str, np.ndarray]:
        k = np.arange(self.next_new, self.next_new + n)
        self.next_new += n
        if self.table == "lineitem":
            return {"l_orderkey": k, "l_linenumber": np.full(n, 1)}
        return {KEYS[self.table][0]: k}


def _cdc_rows(table: str, space: KeySpace, rng, n: int, dup_frac: float,
              skew: float, v_lo: int, v_span: int,
              keys: dict | None = None) -> dict:
    """``n`` CDC rows (I/U/D mix) with ``dup_frac`` of them repeating an
    earlier key of the same file; versions fall in [v_lo, v_lo+v_span)
    and are non-decreasing in row order, with frequent exact ties."""
    n_dup = int(n * dup_frac)
    n_base = n - n_dup
    if keys is None:
        n_ins = int(round(n_base * 0.2))
        ex = space.existing(rng, n_base - n_ins, skew)
        fr = space.fresh(n_ins)
        keys = {k: np.concatenate([ex[k], fr[k]]) for k in ex}
        ops = np.concatenate([
            np.where(rng.random(n_base - n_ins) < 0.18, "D", "U"),
            np.full(n_ins, "I")])
    else:
        ops = np.where(rng.random(n_base) < 0.25, "D", "U")
    if n_dup:
        pick = rng.integers(0, n_base, n_dup)
        keys = {k: np.concatenate([v, v[pick]]) for k, v in keys.items()}
        ops = np.concatenate([ops, np.array(["U", "D", "I"])
                              [rng.integers(0, 3, n_dup)]])
    order = rng.permutation(len(ops))
    keys = {k: v[order] for k, v in keys.items()}
    ops = ops[order]
    cols = _values(table, keys, rng)
    # coarse version steps -> many exact ties between duplicate keys
    steps = np.sort(rng.integers(0, 8, len(ops)))
    version = v_lo + steps * (v_span // 8)
    updated = version - rng.integers(0, 3, len(ops)) * 1_000_000
    cols["updated"] = pa.array(updated, pa.int64())
    cols["created"] = pa.array(updated - rng.integers(0, 2, len(ops)) * 1_000_000,
                               pa.int64())
    cols["Op"] = pa.array(ops)
    cols["load_timestamp"] = pa.array(version, TS)
    return cols


def trickle_sequence(root: str, seed: int, n_timed: int,
                     pattern=("orders", "lineitem"), specials: bool = True,
                     t0_us: int = T0_US) -> tuple[list[CdcFile], list[CdcFile]]:
    """Small files (``SMALL_FILE_ROWS`` sizes, hot keys skewed) applied
    one at a time; returns ``(warm_up, timed)``.

    With ``specials`` the warm-up is three files that every run must get
    right: an ``orders`` file adding the nullable column ``o_comment``, a
    ``lineitem`` file, and a late ``orders`` file whose versions are
    older than every other CDC file — stale for the keys the first file
    touched, fresh (newer than the base) for cold keys.  The timed files
    follow ``pattern`` round-robin, so every seed sees the same table mix
    and the same file sizes; only the contents change with the seed."""
    rng = np.random.default_rng([seed, 1])
    spaces = {t: KeySpace(t) for t in set(pattern) | {ADDED_COLUMN[0]}}
    plan = ([(ADDED_COLUMN[0], "schema_add"), ("lineitem", "cdc"),
             ("orders", "late")] if specials else [])
    n_warm = len(plan)
    plan += [(pattern[j % len(pattern)], "cdc") for j in range(n_timed)]
    files: list[CdcFile] = []
    touched: list[np.ndarray] = []
    for i, (table, kind) in enumerate(plan):
        v_lo = t0_us + (i + 10) * MINUTE_US
        n = SMALL_FILE_ROWS[i % len(SMALL_FILE_ROWS)]
        keys = None
        if kind == "late":
            # versions before every other CDC file, after the base
            v_lo = t0_us + 4 * MINUTE_US
            hot = np.concatenate(touched)[: n - n // 2]
            cold = spaces["orders"].existing(rng, n // 2, 1.0)["o_orderkey"]
            keys = {"o_orderkey": np.concatenate([hot, cold])}
            n = len(keys["o_orderkey"])
        cols = _cdc_rows(table, spaces[table], rng, n, dup_frac=0.1,
                         skew=4.0, v_lo=v_lo, v_span=MINUTE_US // 2, keys=keys)
        if kind == "schema_add":
            cols[ADDED_COLUMN[1]] = pa.array(
                [f"note {x}" for x in rng.integers(0, 10**6, len(cols["Op"]))])
        if table == "orders":
            touched.append(cols["o_orderkey"].to_numpy())
        path = _write(_path(root, table, f"cdc{i:06d}.parquet"), cols)
        files.append(CdcFile(path, table, len(cols["Op"]), kind))
    return files[:n_warm], files[n_warm:]


def stale_copies(root: str, seed: int, n: int, rows: int = 15,
                 table: str = "orders") -> list[CdcFile]:
    """``n`` copies of one small file under different names, every row of
    it an update or delete of a LOAD key with a version before the
    LOAD's: each copy passes through the whole apply path and leaves the
    table as it was, so applying two copies is the same work twice."""
    rng = np.random.default_rng([seed, 3])
    space = KeySpace(table)
    keys = space.existing(rng, rows - rows // 10, 1.0)
    cols = _cdc_rows(table, space, rng, rows, dup_frac=0.1, skew=1.0,
                     v_lo=T0_US - 60 * MINUTE_US, v_span=MINUTE_US // 2,
                     keys=keys)
    data = pa.table(cols)
    out = []
    for j in range(n):
        path = _path(root, table, f"stale{j:06d}.parquet")
        pq.write_table(data, path)
        out.append(CdcFile(path, table, data.num_rows, "stale"))
    return out


def backfill_backlogs(root: str, seed: int, sizes: list[int],
                      rows_per_file: int,
                      table: str = "orders") -> list[list[CdcFile]]:
    """Backlogs of medium files for one table (``sizes[b]`` files in
    backlog ``b``), each in its own source directory
    (``<root>/backlog<b>/fair/<table>/...``).  ~25% of each file's rows
    repeat a key of the same file.  File versions occupy disjoint
    one-hour windows, the first ``sum(sizes)`` after the load, visited in
    a seeded random order, so files arrive out of order both within and
    across backlogs."""
    rng = np.random.default_rng([seed, 2])
    space = KeySpace(table)
    slot = rng.permutation(sum(sizes))
    out = []
    i = 0
    for b, n_files in enumerate(sizes):
        sub = os.path.join(root, f"backlog{b:03d}")
        files = []
        for _ in range(n_files):
            v_lo = T0_US + (int(slot[i]) + 1) * 60 * MINUTE_US
            cols = _cdc_rows(table, space, rng, rows_per_file, dup_frac=0.25,
                             skew=1.5, v_lo=v_lo, v_span=30 * MINUTE_US)
            path = _write(_path(sub, table, f"cdc{i:06d}.parquet"), cols)
            files.append(CdcFile(path, table, rows_per_file))
            i += 1
        out.append(files)
    return out
