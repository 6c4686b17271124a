"""Result checks, run outside every timed span.

Results are canonicalized and hashed order-insensitively with
``tools/verify_local.py``'s ``canon_rows`` / ``value_hash`` and compared
with the registry's DuckDB oracle on the same input directory. Rows-only
keys (no oracle) compare with an untimed reference execution instead.
"""

from __future__ import annotations

import re

import duckdb

from tools.verify_local import canon_rows, duck_collect, duckdb_conn, value_hash

# Rows-only keys carry float columns that may drift in the last digits
# between executions; only their other columns must match the reference.
_FLOAT_TYPES = ("float", "double")
# Non-recursive CTEs that a recursive step re-reads on every iteration.
# Materializing them leaves the oracle's result unchanged (checked equal
# by hash) and cuts curate_corpus's oracle from ~15 s to ~2 s.
_MATERIALIZE = re.compile(r"\b(pairs|sym) AS \(")


def _missing(v) -> bool:
    """None, or the NaN / NaT pandas puts in a null cell of a non-float
    column (both compare unequal to themselves)."""
    return v is None or (not isinstance(v, (str, bytes, list, dict)) and v != v)


def pandas_rows(pdf, schema) -> list[tuple]:
    """Rows of a ``toPandas`` result as the Python values ``collect`` would
    give: nulls back to None outside float columns, integral columns that
    pandas widened to float back to int, arrays back to lists."""
    out_cols = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        vals = pdf[f.name].tolist()
        if t in ("tinyint", "smallint", "int", "bigint"):
            vals = [None if _missing(v) else int(v) for v in vals]
        elif t.startswith("array"):
            vals = [None if v is None else list(v) for v in vals]
        elif not t.startswith(_FLOAT_TYPES):
            vals = [None if _missing(v) else v for v in vals]
        out_cols.append(vals)
    return list(zip(*out_cols)) if out_cols else []


class Checker:
    """Expected results per (input directory, key), computed on demand."""

    def __init__(self, oracles: dict[str, str]):
        self.oracles = oracles
        self._expected: dict[tuple[str, str], tuple[list[str], int, str]] = {}
        self._cons: dict[str, object] = {}

    def con(self, data_dir: str):
        """DuckDB connection with a view per fixture table of ``data_dir``."""
        con = self._cons.get(data_dir)
        if con is None:
            con = duckdb_conn(data_dir)
            con.execute("SET threads TO 4")
            con.execute("SET TimeZone = 'UTC'")
            self._cons[data_dir] = con
        return con

    def oracle(self, data_dir: str, key: str) -> tuple[list[str], int, str]:
        """(sorted columns, row count, value hash) of the DuckDB oracle."""
        got = self._expected.get((data_dir, key))
        if got is None:
            sql = _MATERIALIZE.sub(r"\1 AS MATERIALIZED (", self.oracles[key])
            cols, rows, dirty = duck_collect(self.con(data_dir), sql)
            if dirty:
                raise ValueError(f"{key}: oracle emits unclean types {dirty}")
            cols, canon = canon_rows(cols, rows)
            got = self._expected[(data_dir, key)] = (cols, len(rows), value_hash(canon))
        return got

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()


def sink_rows(path: str) -> tuple[list[str], list[tuple]]:
    """Read a parquet sink written by Spark back through DuckDB."""
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        return list(rel.columns), rel.fetchall()


def summarize(cols: list[str], rows: list[tuple], float_cols: set[str] = frozenset()):
    """(sorted columns, row count, hash) of a result; ``float_cols`` are
    left out of the hash (reference comparisons of rows-only keys)."""
    keep = [i for i, c in enumerate(cols) if c not in float_cols]
    cols2 = [cols[i] for i in keep]
    rows2 = [tuple(r[i] for i in keep) for r in rows]
    scols, canon = canon_rows(cols2, rows2)
    return scols, len(rows), value_hash(canon)


def float_columns(schema) -> set[str]:
    return {
        f.name for f in schema.fields if f.dataType.simpleString().startswith(_FLOAT_TYPES)
    }


def hits_reference(checker: Checker, data_dir: str, cols: list[str], rows: list[tuple]) -> str | None:
    """``graph_hits`` against a NumPy run of the same power method on the
    same input: directed part->supplier edges in the unified id space
    (part p -> 2p, supplier s -> 2s+1), hubs start at 1, 20 supersteps,
    each half-step L1-normalized, scores rounded to 6 decimals. Returns a
    mismatch description, or None."""
    import numpy as np

    edges = np.array(
        checker.con(data_dir).sql(
            "SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst FROM lineitem"
        ).fetchall(),
        dtype=np.int64,
    )
    ids = np.unique(edges)
    src, dst = np.searchsorted(ids, edges[:, 0]), np.searchsorted(ids, edges[:, 1])
    hub, auth = np.ones(len(ids)), np.zeros(len(ids))
    for _ in range(20):
        auth = np.bincount(dst, weights=hub[src], minlength=len(ids))
        auth = auth / auth.sum() if auth.sum() else auth
        hub = np.bincount(src, weights=auth[dst], minlength=len(ids))
        hub = hub / hub.sum() if hub.sum() else hub
    got = {r[cols.index("id")]: (r[cols.index("hub")], r[cols.index("auth")]) for r in rows}
    if len(got) != len(rows) or sorted(got) != ids.tolist():
        return f"vertex set differs: {len(rows)} rows vs {len(ids)} reference vertices"
    worst = max(
        max(abs(got[i][0] - h), abs(got[i][1] - a))
        for i, h, a in zip(ids.tolist(), hub, auth)
    )
    # 6-decimal rounding of sums taken in another order: one unit of 1e-6
    return None if worst <= 1.5e-6 else f"scores differ from reference by {worst:.3g}"


# Rows-only keys checked against a reference computed outside Spark; the
# others get an untimed reference execution of the same key.
REFERENCES = {"graph_hits": hits_reference}
