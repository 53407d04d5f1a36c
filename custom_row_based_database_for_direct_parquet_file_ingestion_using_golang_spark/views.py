"""Plain (logical) SQL views over the dialect.

``CREATE [OR REPLACE] VIEW v AS SELECT ...`` stores the SELECT text in a
JSON registry (``views.json`` beside the catalog, saved atomically like
every registry — commit.py); reads expand the stored text through the dialect compiler at
reference time, so a view is pure query shorthand: zero storage, always
current, and every Catalyst optimization (pushdown through the view,
column pruning, join planning) applies to the EXPANDED plan exactly as
if the user had inlined the SQL. This is the classic logical-view design
— contrast ``matview.py``, whose materialized views store maintained
partial-aggregate state.

Beyond-reference surface (the reference has no views; DuckDB/ANSI
semantics): names share one namespace with tables and materialized
views (no silent shadowing — creation refuses collisions in both
directions), definitions must parse AND bind against the current
catalog at creation time (an unknown TABLE fails at CREATE, not first
read; an unknown COLUMN projects NULL per the dialect's lenient
projection — reference parity P3 — so it cannot fail anywhere), view
bodies may reference other views (cycles are detected at read time and
refused — ``OR REPLACE`` can create one after the fact), and a dropped
base table makes dependent views error loudly at next read (DuckDB
behaves the same; views bind late by design).
"""

from __future__ import annotations

from .commit import JsonRegistry


class Views(JsonRegistry):
    """Registry for plain logical views."""

    def __init__(self, engine):
        super().__init__(engine, "views.json")

    def items(self) -> list[tuple[str, str]]:
        """(name, sql) pairs in REGISTRY (creation) order — EXPORT
        DATABASE replays views in this order so view-over-view
        definitions rebind cleanly at import."""
        return [(n, d["sql"]) for n, d in self._load().items()]

    def get(self, name: str) -> str:
        meta = self._load()
        if name not in meta:
            raise KeyError(f"view '{name}' does not exist")
        return meta[name]["sql"]

    # -- DDL ------------------------------------------------------------

    def create(self, name: str, select_sql: str, or_replace: bool = False) -> None:
        from .plans.refsql import ParseError, RefSQL

        if name in self.engine.catalog:
            raise ValueError(
                f"'{name}' already exists as a table — view and table "
                "names share one namespace"
            )
        if name in self.engine.mviews:
            raise ValueError(
                f"'{name}' already exists as a materialized view"
            )
        meta = self._load()
        if name in meta and not or_replace:
            raise ValueError(
                f"view '{name}' already exists (use CREATE OR REPLACE VIEW)"
            )
        # Validate NOW: the definition must tokenize, parse, and bind
        # against the current catalog (building the lazy DataFrame runs
        # the analyzer, not a job). A fresh sub-executor keeps any CTEs
        # in the body out of the caller's statement scope.
        head = select_sql.lstrip().split(None, 1)
        if not head or head[0].lower() not in ("select", "with", "values"):
            raise ParseError("CREATE VIEW needs AS SELECT/WITH/VALUES ...")
        probe = RefSQL(self.engine)
        probe._view_stack = frozenset({name})  # a body naming itself cycles
        df = probe.execute(select_sql)
        if df is None:
            raise ParseError("CREATE VIEW body did not produce a query")
        meta[name] = {"sql": select_sql}
        self._save(meta)

    def drop(self, name: str) -> None:
        meta = self._load()
        if name not in meta:
            raise KeyError(f"view '{name}' does not exist")
        del meta[name]
        self._save(meta)
