"""Answer checks against DuckDB, run after the timed region ends."""

from __future__ import annotations

import math

import duckdb

COL_WIDTH = 20  # functions.format renders every cell left-justified to 20
REL_TOL = 1e-9  # float aggregates: summation order differs between engines
ABS_TOL = 1e-6


def duck_over(fixture_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per fixture table."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def parse_rendered(text: str, ncols: int) -> list[list[str]]:
    """Cells of the server's fixed-width result table (header and dash line
    dropped). Cells are at most 20 characters for every benchmark query."""
    lines = text.split("\n")[2:]
    return [
        [line[i * COL_WIDTH:(i + 1) * COL_WIDTH].strip() for i in range(ncols)]
        for line in lines
    ]


def _cell_matches(cell: str, want) -> bool:
    """A rendered cell against a DuckDB value; the server renders with
    ``str`` and ``NULL``."""
    if want is None:
        return cell == "NULL"
    if isinstance(want, float):
        try:
            got = float(cell)
        except ValueError:
            return False
        return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return cell == str(want)


def _sort_key(row) -> tuple:
    out = []
    for v in row:
        try:
            out.append(f"{float(v):.4f}")
        except (TypeError, ValueError):
            out.append(str(v))
    return tuple(out)


def rows_match(got: list[list[str]], want: list[tuple], ordered: bool) -> bool:
    """Rendered cells vs DuckDB rows; unordered results compare as
    multisets."""
    if len(got) != len(want):
        return False
    if not ordered:
        got = sorted(got, key=_sort_key)
        want = sorted(want, key=lambda r: _sort_key(["NULL" if v is None else v for v in r]))
    return all(
        len(g) == len(w) and all(_cell_matches(c, v) for c, v in zip(g, w))
        for g, w in zip(got, want)
    )


def response_matches(con, sql: str, rendered: str, ordered: bool) -> bool:
    res = con.execute(sql)
    want = res.fetchall()
    return rows_match(parse_rendered(rendered, len(res.description)), want, ordered)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def canon(rows, columns: list[str]) -> list[tuple]:
    """Column-name-ordered, sorted, 6-decimal rows: the registry's oracle
    comparison (tests/test_oracle_parity.py)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def tables_equal(a: list[tuple], b: list[tuple]) -> bool:
    """Row lists already in the same order, floats within tolerance."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return False
            elif x != y:
                return False
    return True
