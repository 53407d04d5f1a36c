"""DuckDB-style SQL MACROs over the dialect.

``CREATE [OR REPLACE] MACRO name(p1 [, p2 := default, ...]) AS expr``
and the table form ``... AS TABLE SELECT ...`` store the macro's BODY
as a dialect-lowered token list in a JSON registry (``macros.json``
beside the catalog, saved atomically like every registry — commit.py). Call sites expand by
TOKEN SUBSTITUTION before parsing: each parameter reference is replaced
by the parenthesized argument tokens, which is equivalent to DuckDB's
AST parameter substitution for this dialect's grammar (arguments are
expressions; parenthesizing preserves precedence). Expansion iterates,
so macros may call macros; a depth cap turns mutual recursion into a
loud error (DuckDB likewise rejects recursive macros).

Scalar macros expand in any expression position. Table macros expand to
an aliased derived table ``( body ) AS name`` and are only legal in
table position — a table macro in a scalar slot is refused by the same
governing-clause walk that disambiguates scalar generate_series.

The body is stored POST-tokenize, so every dialect closure (operator
sugar, scalar/temporal/JSON families, struct literals, 1-based
brackets) is applied once at definition time and call sites pay zero
rewrite cost. Like DuckDB, binding is lazy: a body referencing a table
or column binds at USE time, so `CREATE MACRO` only validates syntax.

Scale: macros are pure query shorthand — zero storage, zero runtime
indirection; the expanded text plans exactly as if the user had inlined
it, so pushdown/pruning/codegen apply to the EXPANDED plan.
"""

from __future__ import annotations

import re

from .commit import JsonRegistry

_IDENT = re.compile(r"[A-Za-z_][\w$]*\Z")


class Macros(JsonRegistry):
    """Registry for scalar and table macros."""

    def __init__(self, engine):
        super().__init__(engine, "macros.json")

    def items(self) -> list[dict]:
        """Macro metas in REGISTRY (creation) order — EXPORT DATABASE
        replays them in this order so macro-over-macro rebinds."""
        return [dict(m, name=n) for n, m in self._load().items()]

    def snapshot(self) -> dict:
        """name(lower) -> meta for the expansion pass."""
        return {n.lower(): m for n, m in self._load().items()}

    def __contains__(self, name: str) -> bool:
        return name.lower() in self.snapshot()

    # -- DDL ---------------------------------------------------------------

    def define(
        self,
        name: str,
        params: list[str],
        defaults: dict[str, list[str]],
        body: list[str],
        table: bool,
        replace: bool = False,
    ) -> None:
        if not _IDENT.fullmatch(name):
            raise ValueError(f"invalid macro name {name!r}")
        seen: set[str] = set()
        for p in params:
            if not _IDENT.fullmatch(p):
                raise ValueError(f"invalid macro parameter {p!r}")
            if p.lower() in seen:
                raise ValueError(f"duplicate macro parameter {p!r}")
            seen.add(p.lower())
        if not body:
            raise ValueError("macro body is empty")
        meta = self._load()
        key = next((k for k in meta if k.lower() == name.lower()), name)
        if key in meta and not replace:
            raise ValueError(
                f"macro '{name}' already exists (use CREATE OR REPLACE)"
            )
        meta.pop(key, None)
        meta[name] = {
            "params": params,
            "defaults": defaults,
            "body": body,
            "table": table,
        }
        self._save(meta)

    def drop(self, name: str) -> None:
        meta = self._load()
        key = next((k for k in meta if k.lower() == name.lower()), None)
        if key is None:
            raise ValueError(f"no macro named '{name}'")
        del meta[key]
        self._save(meta)
