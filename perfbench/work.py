"""The three benchmark workloads. Each is a closed loop with one client in
one process: the next operation starts when the previous one returns.

Every workload times *units*, the work a user waits for as one step: a
SELECT round trip (``interactive_sql``), a write with its read-after-write
SELECT or one upload cycle (``write_mix``), a pass over the batch list
(``pipeline_batch``). Units run in whole blocks of a fixed mix, so every run
measures the same mix. ``ops`` lists the requests or workload invocations
inside the units; they are what ``attempted`` and ``failed`` count.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from dataclasses import dataclass, field
from importlib import import_module

from . import checks, streams
from .client import RestClient, ServerUnderTest
from .hooks import WORKLOAD_LAYER, dir_files
from .spans import Tracer

#: Blocks run before timing starts, so JIT and whole-stage codegen are warm
#: for every statement shape (the first pass of a shape is 2-4x slower).
#: One block runs each shape at least twice.
WARM_BLOCKS = 1

#: Timed blocks every run measures, so a median never rests on one block.
MIN_BLOCKS = 2

#: Registered batch workloads of ``pipeline_batch``, in pass order.
PIPELINE = [
    "q01_pricing_summary",
    "q3_shipping_priority",
    "setop_union_intersect_except",
    "pipeline_curate_corpus",
    "text_dup_ngram_chars",
]

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]

_AFFECTED = re.compile(r"^(\d+) row\(s\) affected$")


class SetupError(RuntimeError):
    pass


@dataclass
class Op:
    """One request (or workload invocation) as the benchmark saw it."""

    kind: str
    ms: float
    ok: bool
    sql: str = ""
    result: str = ""
    extra: dict = field(default_factory=dict)


@dataclass
class Unit:
    """One timed unit; ``span_id`` is its root span in the traced run."""

    name: str
    ms: float
    span_id: int | None


@dataclass
class Ctx:
    pkg: object
    spark: object
    fixture_dir: str
    sizes: dict
    seed: int
    db_root: str
    tracer: Tracer | None


class _Workload:
    #: Seconds one timed block takes on an uncontended 4-vCPU host.
    block_s: float

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.ops: list[Op] = []  # timed
        self.warm: list[Op] = []  # run during set-up, checked too
        self.units: list[Unit] = []
        self._timing = False

    def _span(self, name: str, layer: str | None):
        if self.ctx.tracer is None:
            return contextlib.nullcontext(None)
        return self.ctx.tracer.span(name, layer)

    @contextlib.contextmanager
    def _unit(self, name: str):
        root = self.ctx.tracer.op(name) if self.ctx.tracer else contextlib.nullcontext(None)
        with root as sp:
            t0 = time.perf_counter()
            yield sp
            ms = (time.perf_counter() - t0) * 1000.0
        if self._timing:
            self.units.append(Unit(name, ms, sp.id if sp is not None else None))

    def _record(self, op: Op) -> Op:
        (self.ops if self._timing else self.warm).append(op)
        return op

    def run(self, seconds: float) -> None:
        """Times ``seconds / block_s`` whole blocks (at least
        ``MIN_BLOCKS``), about ``seconds`` of work on an uncontended
        4-vCPU host. The count does not follow the clock: the process is
        still warming up while timing, so a contended run that timed fewer
        blocks would time colder ones and read higher per unit."""
        self._timing = True
        for _ in range(max(MIN_BLOCKS, round(seconds / self.block_s))):
            self._block()

    def summary(self) -> dict:
        return {"files_per_table": 0.0}

    def close(self) -> None:
        pass


class _RestWorkload(_Workload):
    """Shared set-up for the workloads that go through ``/api``."""

    uploads: list[str] = []
    warm_blocks = WARM_BLOCKS

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.server = None
        self.client = None

    def _bytes(self, table: str) -> bytes:
        with open(os.path.join(self.ctx.fixture_dir, f"{table}.parquet"), "rb") as f:
            return f.read()

    def setup(self) -> None:
        server_mod = import_module(f"{self.ctx.pkg.__name__}.server")
        self.engine = self.ctx.pkg.Engine(self.ctx.spark, self.ctx.db_root)
        self.server = ServerUnderTest(server_mod, self.engine)
        self.client = RestClient(self.server.port)
        for table in self.uploads:
            resp = self.client.upload(table, f"{table}.parquet", self._bytes(table))
            if not resp.get("success"):
                raise SetupError(f"upload of {table} failed: {resp.get('error')}")
        for _ in range(self.warm_blocks):
            self._block()

    def _request(self, kind: str, call, sql: str = "") -> Op:
        """One round trip; its span's self time is the server overhead."""
        with self._span(kind, "server"):
            t0 = time.perf_counter()
            try:
                resp = call()
            except OSError as exc:  # connection trouble: a failed operation
                resp = {"success": False, "error": str(exc)}
            ms = (time.perf_counter() - t0) * 1000.0
        text = resp.get("result") or resp.get("error") or ""
        return self._record(Op(kind, ms, bool(resp.get("success")), sql, text))

    def files_per_table(self) -> float:
        names = self.engine.show_tables()
        if not names:
            return 0.0
        return sum(len(dir_files(self.engine.store.table_path(n))) for n in names) / len(names)

    def close(self) -> None:
        if self.client is not None:
            self.client.close()
        if self.server is not None:
            self.server.close()


class InteractiveSQL(_RestWorkload):
    """Read-only reference-dialect SELECTs through ``POST /api/query``."""

    name = "interactive_sql"
    warm_blocks = 3
    block_s = 2.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.uploads = streams.upload_order(ctx.seed, streams.INTERACTIVE_TABLES)
        self.stream = iter(streams.interactive_stream(ctx.seed, ctx.sizes, n_blocks=400))

    def _block(self) -> None:
        for _ in streams.INTERACTIVE_BLOCK:
            stmt = next(self.stream)
            with self._unit("select"):
                op = self._request("select", lambda: self.client.query(stmt["sql"]), stmt["sql"])
            op.extra = {"template": stmt["template"], "repeat": stmt["repeat"]}

    def check(self) -> int:
        """Compare every SELECT answer with DuckDB; returns wrong answers."""
        con = checks.duck_over(self.ctx.fixture_dir, streams.INTERACTIVE_TABLES)
        bad = 0
        for op in self.warm + self.ops:
            if op.ok and not checks.response_matches(
                con, op.sql, op.result, ordered=op.extra["template"] == "order_limit"
            ):
                op.ok = False
                bad += 1
        con.close()
        return bad

    def summary(self) -> dict:
        return {"files_per_table": self.files_per_table()}


class WriteMix(_RestWorkload):
    """Seeded INSERT/UPDATE/DELETE on ``orders``, each followed by a
    read-after-write SELECT, with upload -> SELECT -> DROP TABLE cycles."""

    name = "write_mix"
    block_s = 6.0
    uploads = ["orders"]

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.stream = streams.write_stream(ctx.seed, ctx.sizes, n_blocks=200)
        self._next = 0
        self._lineitem = self._bytes("lineitem")

    def _step(self, step: dict) -> None:
        if step["kind"] == "upload":
            op = self._request(
                "upload",
                lambda: self.client.upload(step["table"], "lineitem.parquet", self._lineitem),
            )
            op.extra = {"table": step["table"], "rows": self.ctx.sizes["lineitem"]}
        else:
            self._request(step["kind"], lambda: self.client.query(step["sql"]), step["sql"])

    def _block(self) -> None:
        while True:
            first = self.stream[self._next]
            with self._unit(first["kind"]):
                while self.stream[self._next]["unit"] == first["unit"]:
                    step = self.stream[self._next]
                    self._next += 1
                    self._step(step)
            if step["kind"] == "drop":
                return

    def check(self) -> int:
        """Replay the executed sequence in DuckDB: every DML row count and
        SELECT answer must match, and so must the final ``orders`` table."""
        con = checks.duck_over(self.ctx.fixture_dir, ["lineitem"])
        con.execute(
            f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.ctx.fixture_dir}/orders.parquet')"
        )
        bad = 0
        for op in self.warm + self.ops:
            ok = op.ok
            if op.kind == "upload":
                con.execute(f"CREATE TABLE {op.extra['table']} AS SELECT * FROM lineitem")
            elif op.kind == "drop":
                con.execute(op.sql)
            elif op.kind in ("insert", "update", "delete"):
                n = con.execute(op.sql).fetchone()[0]
                m = _AFFECTED.match(op.result)
                ok = ok and m is not None and int(m.group(1)) == n
                op.extra["rows"] = n
            else:
                ok = ok and checks.response_matches(con, op.sql, op.result, ordered=False)
            if op.ok and not ok:
                op.ok = False
                bad += 1
        want = con.execute("SELECT * FROM orders ORDER BY o_orderkey").fetchall()
        path = self.engine.store.table_path("orders")
        got = con.execute(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet') ORDER BY o_orderkey"
        ).fetchall()
        con.close()
        self.final_ok = checks.tables_equal(got, want)
        self.final_rows = len(want)
        return bad + (0 if self.final_ok else 1)

    def summary(self) -> dict:
        """Storage facts, measured after timing ends: the DML target's bytes
        on disk against the same rows written once, fresh, with the same
        codec."""
        path = self.engine.store.table_path("orders")
        stored = sum(dir_files(path).values())
        fresh_dir = os.path.join(os.path.dirname(self.ctx.db_root), "fresh_orders")
        self.engine.table("orders").coalesce(1).write.mode("overwrite").parquet(fresh_dir)
        fresh = sum(dir_files(fresh_dir).values())
        return {
            "stored_bytes": stored,
            "fresh_bytes": fresh,
            "final_rows": self.final_rows,
            "files_per_table": len(dir_files(path)),
        }


class PipelineBatch(_Workload):
    """Registered workload functions, each followed by ``count()``, in a
    fixed order; one pass runs the whole list and is one unit."""

    name = "pipeline_batch"
    block_s = 5.5

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.wl = import_module(f"{ctx.pkg.__name__}.workloads")
        self.expected: dict[str, int] = {}
        self.wrong: list[str] = []

    def _invoke(self, name: str, root, action: str):
        """Build the workload's DataFrame and run ``action`` on it."""
        sc = self.ctx.spark.sparkContext
        if root is not None:
            sc.setJobGroup(f"op-{root.id}-fn", name, False)
        with self._span(f"workloads.{name}", WORKLOAD_LAYER):
            df = self.wl.QUERIES[name](self.ctx.spark, self.ctx.fixture_dir)
        if root is not None:
            sc.setJobGroup(f"op-{root.id}-{action}", name, False)
        return df, getattr(df, action)()

    def _block(self) -> None:
        with self._unit("pass") as root:
            for name in PIPELINE:
                t0 = time.perf_counter()
                try:
                    _, n = self._invoke(name, root, "count")
                    err = None
                except Exception as exc:  # a failing workload is a failed operation
                    n, err = None, f"{type(exc).__name__}: {exc}"
                ms = (time.perf_counter() - t0) * 1000.0
                self._record(Op(name, ms, err is None, result=err or str(n), extra={"count": n}))

    def setup(self) -> None:
        """The warm-up pass collects each answer; ``check`` compares them
        with the workloads' DuckDB oracles after timing, and timed passes
        by count."""
        self.answers = {}
        for name in PIPELINE:
            df, rows = self._invoke(name, None, "collect")
            self.answers[name] = ([tuple(r) for r in rows], df.columns)
            self.expected[name] = len(rows)

    def check(self) -> int:
        con = checks.duck_over(self.ctx.fixture_dir, FIXTURE_TABLES)
        for name, (rows, columns) in self.answers.items():
            oracle = self.wl.ORACLES.get(name)
            if oracle is None:
                continue
            res = con.execute(oracle.replace("{sf_dir}", self.ctx.fixture_dir))
            want = res.fetchall()
            if checks.canon(rows, columns) != checks.canon(want, [d[0] for d in res.description]):
                self.wrong.append(name)
        con.close()
        bad = len(self.wrong)
        for op in self.ops:
            if op.ok and (op.kind in self.wrong or op.extra["count"] != self.expected[op.kind]):
                op.ok = False
                bad += 1
        return bad


WORKLOADS = {w.name: w for w in (InteractiveSQL, PipelineBatch, WriteMix)}
