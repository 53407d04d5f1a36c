"""Fluent SELECT pipeline with the reference's clause semantics.

The reference hand-rolls filter → group/agg → having → order → limit/offset →
distinct as sequential in-memory passes over ``[]Row``
(pkg/handlers/select.go:216-597). Here the same clause surface is assembled
into ONE lazy DataFrame plan and Catalyst chooses the physical strategy:
filters and projections push down into the Parquet scan, aggregation runs as
partial (map-side) + final hash aggregate, ORDER BY + LIMIT plans as
TakeOrderedAndProject — the distributed versions of everything the reference
does single-threaded.

Reference output-naming conventions are preserved (select.go:103-121):
``COUNT(*)`` → ``count``, ``COUNT(c)`` → ``count_c``, ``SUM(c)`` → ``sum_c``,
``AVG(c)`` → ``avg_c``, ``MIN(c)``/``MAX(c)`` → ``min_c``/``max_c``,
overridable with an alias. An agg-free GROUP BY auto-appends ``COUNT(*)``
("lenient" mode, select.go:187-192).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_AGG_FUNCS = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def is_value_expr(text: str) -> bool:
    """True when an argument/projection item is a computed EXPRESSION
    rather than a bare column reference — operators, spaces, parens, or
    literal syntax mean Catalyst's own parser (``F.expr``) should handle
    it. A plain (possibly dot-qualified) identifier is a column, and so is
    a qualified star ``t.*`` (all of relation ``t``'s columns)."""
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
    """Column for an aggregate/window/projection argument: bare column
    names resolve by reference, anything else goes through Spark's SQL
    expression parser (the dialect's value-expression surface IS Spark
    SQL's — hand-rolling arithmetic precedence would only add bugs)."""
    return F.expr(text) if is_value_expr(text) else F.col(text)


def agg_default_name(func: str, column: str) -> str:
    """The dialect's default output name for an aggregate call."""
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


def agg_spec(func: str, column: str = "*", alias: str | None = None) -> Column:
    """One aggregate with the reference's default output name. A column
    argument prefixed ``DISTINCT `` (round-6 dialect extension) aggregates
    distinct values — compiled through Spark SQL's own DISTINCT-aggregate
    planning (Expand + two-phase agg), default name ``{fn}_distinct_{col}``."""
    func = func.lower()
    if func == "_expr":
        # Verbatim statistical aggregate (dialect round-6): Catalyst
        # compiles the call text; the parser guarantees an alias.
        if alias is None:
            raise ValueError("expression aggregates need an alias")
        return F.expr(column).alias(alias)
    if func == "grouping":
        # GROUPING(col): 1 on a ROLLUP/CUBE super-aggregate row where col
        # is rolled up, 0 on a data row — the standard way to tell a
        # super-aggregate NULL key from a data NULL (round-6; only valid
        # under a grouping-set aggregation, enforced by Spark's analyzer).
        return (
            F.grouping(arg_col(column))
            .cast("int")
            .alias(alias or f"grouping_{column.rsplit('.', 1)[-1]}")
        )
    if func not in _AGG_FUNCS:
        raise ValueError(
            f"unsupported aggregate {func!r} (reference supports COUNT/SUM/AVG/MIN/MAX, "
            "select.go:103-121; use raw DataFrame .agg for beyond-reference functions)"
        )
    if column.lower().startswith("distinct "):
        inner = column[9:].strip()
        expr = F.expr(f"{func}(DISTINCT {inner})")
        default = f"{func}_distinct_{inner.rsplit('.', 1)[-1]}"
        return expr.alias(alias or default)
    if func == "count" and column == "*":
        expr, default = F.count(F.lit(1)), "count"
    else:
        # Default output name uses the UNQUALIFIED column (sum_o_totalprice,
        # not "sum_orders.o_totalprice") so a qualified reference in a
        # joined query yields a plain referencable name. Expression
        # arguments have no natural default — parse_select enforces an
        # explicit AS alias before they reach here.
        expr, default = (
            _AGG_FUNCS[func](arg_col(column)),
            f"{func}_{column.rsplit('.', 1)[-1]}",
        )
    return expr.alias(alias or default)


class Query:
    """Builder mirroring the reference's SELECT clause set over a DataFrame."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._where: Column | str | None = None
        self._group: list[str] = []
        self._group_mode: str = "groupby"
        self._group_sets: list = []
        self._aggs: list[Column] = []
        self._having: Column | str | None = None
        self._order: list[Column] = []
        self._limit: int | None = None
        self._offset: int | None = None
        self._distinct = False
        self._projection: list[Column | str] | None = None

    # -- clause setters (each returns self for chaining) -------------------

    def select(self, *cols: Column | str) -> "Query":
        star = len(cols) == 1 and isinstance(cols[0], str) and cols[0] == "*"
        if cols and not star:
            self._projection = list(cols)
        return self

    def where(self, cond: Column | str) -> "Query":
        self._where = cond
        return self

    def group_by(
        self, *cols: str, mode: str = "groupby", sets: "list | None" = None
    ) -> "Query":
        # Reference limitation NOT copied: it supports exactly one grouping
        # column (select.go:165-173); this accepts any number. ``mode``
        # selects plain grouping vs the grouping-set variants — rollup,
        # cube, and explicit ``sets`` (round-8) all plan as ONE Expand +
        # aggregate pass (no per-level re-scans). With mode='sets',
        # ``sets`` is the explicit list of grouping-column lists and
        # ``cols`` the union of referenced columns.
        if mode not in ("groupby", "rollup", "cube", "sets"):
            raise ValueError(f"unsupported grouping mode {mode!r}")
        if mode == "sets":
            if not sets:
                raise ValueError("mode='sets' requires a grouping-set list")
            self._group_sets = [list(s) for s in sets]
        self._group = list(cols)
        self._group_mode = mode
        return self

    def agg(self, *specs: Column) -> "Query":
        self._aggs = list(specs)
        return self

    def having(self, cond: Column | str) -> "Query":
        self._having = cond
        return self

    def order_by(
        self,
        col: Column | str,
        desc: bool = False,
        nulls: str | None = None,
    ) -> "Query":
        """One sort key. ``nulls`` = 'first' | 'last' | None (engine
        default: Spark puts NULLs first ascending, last descending —
        explicit placement is the portable form, round-6 dialect
        extension)."""
        c = arg_col(col) if isinstance(col, str) else col
        if nulls is None:
            self._order.append(c.desc() if desc else c.asc())
        elif nulls == "first":
            self._order.append(c.desc_nulls_first() if desc else c.asc_nulls_first())
        elif nulls == "last":
            self._order.append(c.desc_nulls_last() if desc else c.asc_nulls_last())
        else:
            raise ValueError(f"nulls must be 'first'/'last'/None, got {nulls!r}")
        return self

    def limit(self, n: int) -> "Query":
        # Applied on EVERY path — the reference parses LIMIT but silently
        # drops it for non-grouped SELECTs (select.go:41-42 vs 516-597);
        # documented fix, SURVEY.md §7.4.
        self._limit = n
        return self

    def offset(self, n: int) -> "Query":
        self._offset = n
        return self

    def distinct(self) -> "Query":
        self._distinct = True
        return self

    # -- plan assembly -----------------------------------------------------

    @staticmethod
    def _cond(c: Column | str) -> Column:
        return F.expr(c) if isinstance(c, str) else c

    def df(self) -> DataFrame:
        df = self._df
        if self._where is not None:
            df = df.filter(self._cond(self._where))
        if self._group or self._aggs:
            aggs = list(self._aggs)
            if self._group and not aggs:
                # Lenient GROUP BY: auto-append COUNT(*) (select.go:187-192).
                aggs = [agg_spec("count")]
            if self._group:
                if self._group_mode == "sets":
                    df = df.groupingSets(
                        self._group_sets, *self._group
                    ).agg(*aggs)
                else:
                    grouper = {
                        "groupby": df.groupBy,
                        "rollup": df.rollup,
                        "cube": df.cube,
                    }[self._group_mode]
                    df = grouper(*self._group).agg(*aggs)
            else:
                # a global aggregate as a select (same Aggregate plan):
                # DataFrame.agg analyzes its input eagerly, which a
                # correlated subquery's frame cannot do on its own
                df = df.select(*aggs)
            if self._having is not None:
                df = df.filter(self._cond(self._having))
        if self._projection is not None:
            df = df.select(*self._projection)
        if self._distinct:
            df = df.dropDuplicates()
        if self._order:
            df = df.orderBy(*self._order)
        if self._offset is not None:
            df = df.offset(self._offset)
        if self._limit is not None:
            df = df.limit(self._limit)
        return df
