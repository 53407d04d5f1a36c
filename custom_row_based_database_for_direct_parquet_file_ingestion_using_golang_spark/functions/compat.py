"""The reference's WHERE semantics as Spark SQL expression text.

The dialect front end (plans/refsql.py) compiles every predicate to Spark
SQL, so each reference rule has one definition here, as the text it
emits; ``F.expr`` turns any of them into a Column.

The reference compares dynamically: if both operands parse as floats the
comparison is numeric, otherwise it is lexicographic on the string
renderings (pkg/expr/expr.go:90-156, toFloat at expr.go:31-47). On properly
typed Spark columns none of this is needed — Catalyst compares natively.
The dual comparison exists for reference-parity queries over
``all_text=True`` imported tables (the reference types every import TEXT,
pkg/importer/importer.go:37-52).

Everything here is built-in Spark SQL — JVM-side, codegen-friendly, no
Python UDFs.
"""

from __future__ import annotations

import math


def sql_literal(value) -> str:
    """A Python literal as the Spark SQL literal ``F.lit`` would build:
    NULL, booleans, integers (INT or BIGINT by size), doubles and
    strings (backslash-escaped, Spark's default string syntax)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"double('{value}')"
    text = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{text}'"


def try_num(expr: str) -> str:
    """Numeric reading of a value, NULL if it doesn't parse — the Spark
    equivalent of the reference's ``toFloat`` sniff (expr.go:31-47)."""
    return f"try_cast(CAST({expr} AS STRING) AS DOUBLE)"


_COMPARATORS = ("=", "!=", "<", "<=", ">", ">=")


def dual_compare(left: str, op: str, right: str) -> str:
    """Numeric comparison iff both sides parse as numbers, else string
    comparison — the reference's dual-mode operator semantics
    (expr.go:121-154) as one CASE over the two expressions."""
    op = "=" if op == "==" else op
    if op not in _COMPARATORS:
        raise ValueError(f"unsupported comparator {op!r}")
    ln, rn = try_num(left), try_num(right)
    ls, rs = f"CAST({left} AS STRING)", f"CAST({right} AS STRING)"
    return (
        f"(CASE WHEN ({ln} IS NOT NULL AND {rn} IS NOT NULL) "
        f"THEN ({ln} {op} {rn}) ELSE ({ls} {op} {rs}) END)"
    )


def ref_like(expr: str, pattern: str) -> str:
    """The reference's restricted LIKE (expr.go:250-277): only four shapes —
    ``%pat%`` → contains, ``%pat`` → endswith, ``pat%`` → startswith,
    no ``%`` → exact equality. No ``_`` wildcard, no interior ``%``.
    """
    if pattern.startswith("%") and pattern.endswith("%") and len(pattern) >= 2:
        return f"contains({expr}, {sql_literal(pattern[1:-1])})"
    if pattern.startswith("%"):
        return f"endswith({expr}, {sql_literal(pattern[1:])})"
    if pattern.endswith("%"):
        return f"startswith({expr}, {sql_literal(pattern[:-1])})"
    return f"({expr} = {sql_literal(pattern)})"


def truthy(expr: str) -> str:
    """Bare-operand truthiness: an operand with no comparator means
    ``operand != false`` (expr.go:515-517)."""
    return f"(CAST({expr} AS BOOLEAN) = true)"
