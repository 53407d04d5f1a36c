"""Naming and argument rules the dialect's SELECT shares with the
materialized views.

Reference output-naming conventions (select.go:103-121): ``COUNT(*)`` →
``count``, ``COUNT(c)`` → ``count_c``, ``SUM(c)`` → ``sum_c``, ``AVG(c)``
→ ``avg_c``, ``MIN(c)``/``MAX(c)`` → ``min_c``/``max_c``, overridable with
an alias.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def is_value_expr(text: str) -> bool:
    """True when an argument/projection item is a computed EXPRESSION
    rather than a bare column reference — operators, spaces, parens, or
    literal syntax mean Catalyst's own parser should handle it. A plain
    (possibly dot-qualified) identifier is a column, and so is a
    qualified star ``t.*`` (all of relation ``t``'s columns)."""
    if text.endswith(".*") and text[:-2].isidentifier():
        return False
    if any(ch in text for ch in "+-*/% ()'\""):
        return True
    # bare numeric literal (e.g. SELECT 42 AS x)
    try:
        float(text)
        return True
    except ValueError:
        return False


def arg_col(text: str) -> Column:
    """Column for an aggregate argument: bare column names resolve by
    reference, anything else goes through Spark's SQL expression parser."""
    return F.expr(text) if is_value_expr(text) else F.col(text)


def agg_default_name(func: str, column: str) -> str:
    """The dialect's default output name for an aggregate call: the
    UNQUALIFIED column (``sum_o_totalprice``, not
    ``sum_orders.o_totalprice``), so a qualified reference in a joined
    query yields a plain referencable name."""
    func = func.lower()
    if func == "_expr":
        raise ValueError("expression aggregates have no default name")
    if func == "count" and column == "*":
        return "count"
    if func == "grouping":
        return f"grouping_{column.rsplit('.', 1)[-1]}"
    if column.lower().startswith("distinct "):
        return f"{func}_distinct_{column[9:].strip().rsplit('.', 1)[-1]}"
    return f"{func}_{column.rsplit('.', 1)[-1]}"
