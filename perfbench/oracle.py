"""Independent expected-state model of the CDC tables (pyarrow + DuckDB).

Recomputes each table's final live rows from the generated files alone,
following the semantics the engine documents, never its code:

* within one batch, one row per key survives: the dedup cascade of
  ``operators/ordering.py`` — ``load_timestamp`` DESC (NULLs last), Op
  priority D > U > I, ``COALESCE(updated, 0)`` DESC,
  ``COALESCE(created, 0)`` DESC, file-local row number DESC;
* the survivor is gated against the stored row by the version column
  (``merge_cdc``): staging wins when its version is >= the stored one
  or the stored one is NULL; a NULL staging version loses to a set one;
* with tombstones (the default), a fresh delete keeps the row as a
  hidden marker carrying the delete's version, an unmatched delete
  inserts such a marker, and a fresh write to a marker resurrects it;
* a fresh write updates only the columns the batch carries; columns
  the batch lacks keep their stored value (NULL on an insert);
* a nullable column a batch adds appears as NULL on every existing row.

Rows are compared to the engine's output by key with DuckDB.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

OP, VERSION, SEQ = "Op", "load_timestamp", "__seq"
META = {OP, "ingestion_seq", "rn"}
OP_RANK = {"D": 3, "U": 2, "I": 1}


def _rank(row: dict) -> tuple:
    v = row[VERSION]
    return (v is not None, v, OP_RANK.get(row.get(OP), 0),
            row.get("updated") or 0, row.get("created") or 0, row[SEQ])


def _take_staging(sv, tv) -> bool:
    if tv is None:
        return True
    if sv is None:
        return False
    return sv >= tv


class TableModel:
    """Expected state of one table: the LOAD snapshot plus an overlay of
    every key a batch touched (``key -> (row, tombstoned)``)."""

    def __init__(self, name: str, keys: list[str], load_paths: list[str],
                 con: duckdb.DuckDBPyConnection):
        self.name, self.keys, self.con = name, list(keys), con
        base = pa.concat_tables([pq.read_table(p) for p in load_paths])
        base = base.drop_columns([c for c in base.column_names if c in META])
        self.base = base
        self.columns = list(base.column_names)
        self.types = {f.name: f.type for f in base.schema}
        self.overlay: dict[tuple, tuple[dict, bool]] = {}
        con.register(f"base_{name}", base)

    def _key(self, row: dict) -> tuple:
        return tuple(row[k] for k in self.keys)

    def _base_rows(self, keys: list[tuple]) -> dict[tuple, dict]:
        if not keys:
            return {}
        probe = pa.table({k: pa.array([kt[i] for kt in keys],
                                      self.types[k])
                          for i, k in enumerate(self.keys)})
        self.con.register("probe", probe)
        on = " AND ".join(f'b."{k}" = p."{k}"' for k in self.keys)
        got = self.con.execute(
            f"SELECT b.* FROM base_{self.name} b SEMI JOIN probe p ON {on}"
        ).fetch_arrow_table()
        self.con.unregister("probe")
        return {self._key(r): r for r in got.to_pylist()}

    def apply_file(self, path: str) -> None:
        """One CDC file applied as one batch.  Applying the files of a
        multi-file micro-batch one by one gives the same state here,
        because rows of different files never tie on the version."""
        t = pq.read_table(path)
        batch_cols = t.column_names
        for c in batch_cols:
            if c not in META and c not in self.columns:
                # additive evolution: NULL on every stored row
                self.columns.append(c)
                self.types[c] = t.schema.field(c).type
        rows = t.to_pylist()
        for i, r in enumerate(rows, start=1):
            r[SEQ] = i
        winners: dict[tuple, dict] = {}
        for r in rows:
            k = self._key(r)
            if k not in winners or _rank(r) > _rank(winners[k]):
                winners[k] = r
        common = [c for c in self.columns
                  if c in batch_cols and c not in META and c not in self.keys]
        base = self._base_rows([k for k in winners if k not in self.overlay])
        for k, s in winners.items():
            is_del = s.get(OP) == "D"
            if k in self.overlay:
                cur, tomb = self.overlay[k]
            elif k in base:
                cur, tomb = base[k], False
            else:
                cur = None
            if cur is None:
                new = {c: (s.get(c) if c in common or c in self.keys else None)
                       for c in self.columns}
                self.overlay[k] = (new, is_del)
                continue
            if not _take_staging(s.get(VERSION), cur.get(VERSION)):
                continue
            new = dict(cur)
            if is_del:
                new[VERSION] = s.get(VERSION)
                self.overlay[k] = (new, True)
            else:
                for c in common:
                    new[c] = s.get(c)
                self.overlay[k] = (new, False)

    def expected_row(self, key: tuple) -> dict | None:
        """The live row for ``key`` now (None if absent or deleted)."""
        if key in self.overlay:
            row, tomb = self.overlay[key]
            return None if tomb else {c: row.get(c) for c in self.columns}
        row = self._base_rows([key]).get(key)
        return None if row is None else {c: row.get(c) for c in self.columns}

    def _overlay_table(self) -> pa.Table:
        rows = [r for r, _ in self.overlay.values()]
        cols = {c: pa.array([r.get(c) for r in rows], self.types[c])
                for c in self.columns}
        cols["__tomb"] = pa.array([t for _, t in self.overlay.values()],
                                  pa.bool_())
        return pa.table(cols)

    def mismatched_rows(self, actual: pa.Table) -> int:
        """Keys whose live row differs between model and engine, counting
        rows either side lacks."""
        con = self.con
        con.register("ov", self._overlay_table())
        con.register("engine_out", actual)
        cols = ", ".join(f'"{c}"' for c in self.columns)
        fill = ", ".join(f'b."{c}"' if c in self.base.column_names
                         else f'NULL AS "{c}"' for c in self.columns)
        anti = " AND ".join(f'b."{k}" = o."{k}"' for k in self.keys)
        on = " AND ".join(f'e."{k}" = a."{k}"' for k in self.keys)
        row_e = "struct_pack(" + ", ".join(
            f'"{c}" := e."{c}"' for c in self.columns) + ")"
        row_a = "struct_pack(" + ", ".join(
            f'"{c}" := a."{c}"' for c in self.columns) + ")"
        n = con.execute(f"""
            WITH exp AS (
              SELECT {fill} FROM base_{self.name} b ANTI JOIN ov o ON {anti}
              UNION ALL SELECT {cols} FROM ov WHERE NOT __tomb),
            act AS (SELECT {cols} FROM engine_out)
            SELECT count(*) FROM exp e FULL OUTER JOIN act a ON {on}
            WHERE {row_e} IS DISTINCT FROM {row_a}""").fetchone()[0]
        con.unregister("ov")
        con.unregister("engine_out")
        return int(n)


class Oracle:
    """Expected state of every table of one warehouse."""

    def __init__(self, keys: dict[str, list[str]],
                 load_paths: dict[str, list[str]]):
        self.con = duckdb.connect()
        self.tables = {t: TableModel(t, keys[t], load_paths[t], self.con)
                       for t in load_paths}

    def close(self) -> None:
        self.con.close()
