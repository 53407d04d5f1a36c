"""Seeded statement streams for the REST workloads.

The seed chooses the literals, which statements repeat and the upload
order; nothing else in a run is random. The template mix does not depend on
the seed: statements come in blocks that hold every template a fixed number
of times, and the seed only orders each block.
"""

from __future__ import annotations

import random

#: Share of ``interactive_sql`` statements that repeat an earlier statement
#: of the same template verbatim. Fixed, so every seed has the same mix of
#: repeats and fresh literals; the seed picks which slots repeat.
#: A stated assumption, not a measurement: interactive analysis sessions
#: are known to repeat work (EDBT 2020, "Incremental Based Framework for
#: Efficient Top-K Similarity Search in Interactive Data Analysis
#: Sessions"), but no reuse rate of this engine's users is recorded. A
#: gain that rests on repeats (a result cache, say) scales with this value.
REPEAT_SHARE = 0.25

INTERACTIVE_TABLES = ["nation", "customer", "orders", "lineitem"]

INTERACTIVE_TEMPLATES = {
    "point": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderpriority FROM orders WHERE o_orderkey = {key}"
    ),
    "filter": (
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_nationkey = {nation} AND c_acctbal > {bal}"
    ),
    "group_having": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(l_quantity) AS qty, MAX(l_discount) AS disc FROM lineitem "
        "WHERE l_quantity >= {qty} GROUP BY l_returnflag, l_linestatus "
        "HAVING COUNT(*) > {min_n}"
    ),
    "order_limit": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = '{prio}' ORDER BY o_totalprice DESC, "
        "o_orderkey LIMIT {limit}"
    ),
    "distinct": (
        "SELECT DISTINCT c_mktsegment FROM customer "
        "WHERE c_nationkey = {nation} AND c_acctbal < {bal}"
    ),
    "join": (
        "SELECT n.n_name, COUNT(*) AS customers, SUM(c.c_acctbal) AS bal "
        "FROM customer AS c JOIN nation AS n ON c.c_nationkey = n.n_nationkey "
        "WHERE c.c_acctbal > {bal} GROUP BY n.n_name HAVING COUNT(*) > {min_n}"
    ),
    "cte": (
        "WITH per_cust AS (SELECT o_custkey, COUNT(*) AS n, "
        "SUM(o_totalprice) AS total FROM orders WHERE o_orderstatus = '{status}' "
        "GROUP BY o_custkey) SELECT COUNT(*) AS custs, MAX(total) AS top "
        "FROM per_cust WHERE n >= {min_orders}"
    ),
}

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _literals(rng: random.Random, template: str, sizes: dict[str, int]) -> dict:
    if template == "point":
        return {"key": rng.randrange(sizes["orders"])}
    if template == "filter":
        return {"nation": rng.randrange(25), "bal": rng.randrange(5000, 9500)}
    if template == "group_having":
        return {"qty": rng.randrange(1, 40), "min_n": rng.randrange(0, 100)}
    if template == "order_limit":
        return {"prio": rng.choice(_PRIORITIES), "limit": rng.randrange(5, 21)}
    if template == "distinct":
        return {"nation": rng.randrange(25), "bal": rng.randrange(0, 9000)}
    if template == "join":
        return {"bal": rng.randrange(-500, 9000), "min_n": rng.randrange(0, 40)}
    if template == "cte":
        return {"status": rng.choice("FOP"), "min_orders": rng.randrange(1, 6)}
    raise KeyError(template)


def upload_order(seed: int, tables: list[str]) -> list[str]:
    order = list(tables)
    random.Random(f"upload:{seed}").shuffle(order)
    return order


#: One ``interactive_sql`` block. Point lookups and simple filters come
#: twice, on the stated assumption that they are the commonest chat
#: statements; there is no statement log of real users to weight by.
INTERACTIVE_BLOCK = [
    "point", "point", "filter", "filter", "group_having", "order_limit",
    "distinct", "join", "cte",
]


def interactive_stream(seed: int, sizes: dict[str, int], n_blocks: int) -> list[dict]:
    """``n_blocks`` blocks of ``INTERACTIVE_BLOCK``, each in seeded order.
    A statement is ``{"template", "sql", "repeat", "block"}``."""
    rng = random.Random(f"interactive:{seed}")
    seen: dict[str, list[str]] = {t: [] for t in INTERACTIVE_TEMPLATES}
    out = []
    for b in range(n_blocks):
        block = list(INTERACTIVE_BLOCK)
        rng.shuffle(block)
        for t in block:
            # draw the literals unconditionally so a repeat does not shift
            # the literals of every later statement
            sql = INTERACTIVE_TEMPLATES[t].format(**_literals(rng, t, sizes))
            repeat = bool(seen[t]) and rng.random() < REPEAT_SHARE
            if repeat:
                sql = rng.choice(seen[t])
            else:
                seen[t].append(sql)
            out.append({"template": t, "sql": sql, "repeat": repeat, "block": b})
    return out


#: One ``write_mix`` block: these writes in seeded order, each followed by a
#: read-after-write SELECT, then one upload -> SELECT -> DROP TABLE cycle of
#: the ``lineitem`` fixture. The equal 2/2/2 weights and one upload per six
#: writes are a stated assumption, not drawn from any measured write mix.
WRITE_BLOCK = ["insert", "insert", "update", "update", "delete", "delete"]
_STATUSES = ["F", "O", "P"]


def _range(rng: random.Random, n_orders: int) -> tuple[int, int]:
    lo = rng.randrange(n_orders - 64)
    return lo, lo + rng.randrange(8, 64)


def write_stream(seed: int, sizes: dict[str, int], n_blocks: int) -> list[dict]:
    """Operations ``{"kind", "sql", "unit", ...}`` for ``write_mix`` against
    the ``orders`` table. A unit is one write with its read-after-write
    SELECT, or one upload cycle. Inserted keys start above the fixture's
    keys, so they never collide; UPDATE and DELETE hit seeded key ranges."""
    rng = random.Random(f"write:{seed}")
    n_orders, n_cust = sizes["orders"], sizes["customer"]
    next_key = n_orders
    unit = 0
    out: list[dict] = []
    for b in range(n_blocks):
        block = list(WRITE_BLOCK)
        rng.shuffle(block)
        for kind in block:
            if kind == "insert":
                rows = []
                for _ in range(rng.randrange(1, 6)):
                    day = rng.randrange(1, 29)
                    rows.append(
                        f"({next_key}, {rng.randrange(n_cust)}, "
                        f"'{rng.choice(_STATUSES)}', "
                        f"{rng.randrange(100_000, 50_000_000) / 100}, "
                        f"'1999-{rng.randrange(1, 13):02d}-{day:02d} 00:00:00', "
                        f"'{rng.choice(_PRIORITIES)}')"
                    )
                    next_key += 1
                lo, hi = next_key - len(rows), next_key
                sql = "INSERT INTO orders VALUES " + ", ".join(rows)
            elif kind == "update":
                lo, hi = _range(rng, n_orders)
                sql = (
                    f"UPDATE orders SET o_orderstatus = '{rng.choice(_STATUSES)}', "
                    f"o_totalprice = o_totalprice + {rng.randrange(1, 100)}.5 "
                    f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
                )
            else:
                lo, hi = _range(rng, n_orders)
                sql = f"DELETE FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
            out.append({"kind": kind, "sql": sql, "unit": unit})
            out.append(
                {
                    "kind": "read_after_write",
                    "unit": unit,
                    "sql": (
                        "SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, "
                        "MIN(o_orderstatus) AS st FROM orders "
                        f"WHERE o_orderkey >= {lo} AND o_orderkey < {hi}"
                    ),
                }
            )
            unit += 1
        table = f"lineitem_u{b}"
        out.append({"kind": "upload", "table": table, "unit": unit})
        out.append(
            {
                "kind": "upload_select",
                "unit": unit,
                "sql": (
                    f"SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM {table} "
                    f"WHERE l_discount >= {rng.randrange(0, 11) / 100}"
                ),
            }
        )
        out.append({"kind": "drop", "sql": f"DROP TABLE {table}", "unit": unit})
        unit += 1
    return out
