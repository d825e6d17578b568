"""Order-insensitive comparison of a query result with its DuckDB oracle.

The semantics follow ``tests/conftest.assert_frames_match``: columns are
matched by sorted name, rows compare as a multiset, floats compare
exactly with NaN equal to NaN (a null float reads as NaN there, so the
two are folded together here too) and timestamps compare at microsecond
precision. The comparison runs inside DuckDB over Arrow tables, so a
million-row result costs a hash join instead of a pandas sort.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa

_INT_IDS = {
    "tinyint", "smallint", "integer", "bigint", "hugeint",
    "utinyint", "usmallint", "uinteger", "ubigint", "uhugeint",
}
_FLOAT_IDS = {"float", "double", "decimal"}


def _kind(type_id: str) -> str:
    """Canonical class of a DuckDB type id; both sides must agree on it."""
    if type_id in _INT_IDS:
        return "int"
    if type_id in _FLOAT_IDS:
        return "float"
    if type_id.startswith("timestamp"):
        return "timestamp"
    if type_id in ("boolean", "varchar", "date"):
        return type_id
    return "other"


def _canonical(col: str, kind: str) -> str:
    c = '"' + col.replace('"', '""') + '"'
    if kind == "int":
        return f"CAST({c} AS HUGEINT)"
    if kind == "float":
        # isnan(NULL) is NULL, so NULL and NaN both land on NULL; +0.0
        # turns -0.0 into 0.0, which == treats as equal.
        return f"CASE WHEN isnan(CAST({c} AS DOUBLE)) THEN NULL ELSE CAST({c} AS DOUBLE) + 0.0 END"
    if kind == "timestamp":
        return f"CAST({c} AS TIMESTAMP)"
    if kind == "other":
        return f"CAST({c} AS VARCHAR)"
    return c


def _layout(con: duckdb.DuckDBPyConnection, name: str) -> dict[str, str]:
    rel = con.table(name)
    return {c: _kind(t.id) for c, t in zip(rel.columns, rel.types)}


def compare(con: duckdb.DuckDBPyConnection, result: pa.Table, oracle: pa.Table) -> str | None:
    """Return ``None`` when ``result`` matches ``oracle``, else why not.

    ``con`` must have ``TimeZone`` set to UTC so that zoned and naive
    timestamps meet on the same clock.
    """
    con.register("perfbench_result", result)
    con.register("perfbench_oracle", oracle)
    try:
        got, want = _layout(con, "perfbench_result"), _layout(con, "perfbench_oracle")
        if sorted(got) != sorted(want):
            return f"columns {sorted(got)} != oracle {sorted(want)}"
        cols = sorted(got)
        kinds = [k for k in cols if got[k] != want[k]]
        if kinds:
            return "column types differ: " + ", ".join(
                f"{k} {got[k]} vs {want[k]}" for k in kinds
            )
        select = ", ".join(_canonical(c, got[c]) for c in cols)
        n_got, n_want = result.num_rows, oracle.num_rows
        if n_got != n_want:
            return f"{n_got} rows != oracle {n_want}"
        (extra,) = con.sql(
            f"SELECT count(*) FROM (SELECT {select} FROM perfbench_result "
            f"EXCEPT ALL SELECT {select} FROM perfbench_oracle)"
        ).fetchone()
        if extra:
            return f"{extra} of {n_got} rows differ from the oracle"
        return None
    finally:
        con.unregister("perfbench_result")
        con.unregister("perfbench_oracle")


def oracle_connection(sf_dir: str, tables, temp_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per fixture table, as the oracles expect."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


class Oracles:
    """Oracle answers, computed by DuckDB once per oracle text and fixture.

    Answers are kept as Arrow IPC files under ``cache_dir``, keyed by the
    SQL text, the DuckDB version and each fixture file's size and mtime,
    so a run reads what an earlier run of the same checkout computed."""

    def __init__(self, con: duckdb.DuckDBPyConnection, sf_dir: str, tables, cache_dir: str) -> None:
        self.con = con
        self.cache_dir = cache_dir
        stamps = []
        for name in sorted(tables):
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            stamps.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        self.stamp = f"{duckdb.__version__}|{os.path.abspath(sf_dir)}|{'|'.join(stamps)}"

    def answer(self, sql: str) -> pa.Table:
        digest = hashlib.sha256(f"{self.stamp}|{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{digest}.arrow")
        if os.path.exists(path):
            with pa.OSFile(path, "rb") as src:
                return pa.ipc.open_file(src).read_all()
        table = self.con.sql(sql).arrow()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with pa.OSFile(tmp, "wb") as sink, pa.ipc.new_file(sink, table.schema) as writer:
            writer.write_table(table)
        os.replace(tmp, path)
        return table
