"""Where the traced run puts its spans: the public entry points of each
sparkdb layer, wrapped at run time from the benchmark's side.

Layer names follow the package's modules: ``server``, ``refsql`` (plans/
refsql.py), ``engine``, ``tables`` (ParquetTableStore), ``catalog``,
``format`` (functions/format.py), ``workloads`` (the registry and workload
functions), plus Spark's own ``catalyst`` and ``exec``.
"""

from __future__ import annotations

import importlib
import os
import sys

from .spans import Span, Tracer, deepest_container

#: Layer of the spans that wrap a registered workload function.
WORKLOAD_LAYER = "workloads.build"


def dir_files(path: str) -> dict[str, int]:
    """Parquet data file -> size under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _catalyst_phases(tracer: Tracer, sp: Span, args, result) -> None:
    """After a collect: the query's own QueryPlanningTracker phases.
    Optimization and planning run lazily inside the collect, so they become
    ``catalyst`` child spans at its start; analysis ran when the DataFrame
    was built and is only counted."""
    phases = args[0]._jdf.queryExecution().tracker().phases()
    t = sp.start
    for phase in ("analysis", "optimization", "planning"):
        if not phases.contains(phase):
            continue
        ms = phases.apply(phase).durationMs()
        tracer.note(sp, f"catalyst.{phase}_ms", ms)
        if phase != "analysis":
            end = min(t + ms / 1000.0, sp.end)
            tracer.add(f"catalyst.{phase}", "catalyst", t, end, sp)
            t = end


def install(tracer: Tracer, pkg, spark) -> None:
    """Wrap every layer entry point the benchmark reports on."""
    from pyspark.sql.classic.dataframe import DataFrame

    def mod(name):
        return importlib.import_module(f"{pkg.__name__}.{name}")

    server, refsql, tables = mod("server"), mod("plans.refsql"), mod("tables")
    fmt, registry = mod("functions.format"), mod("workloads.registry")
    mod("workloads")  # registers every workload module
    sc = spark.sparkContext

    def count(key, n=1):
        def after(sp, args, result):
            tracer.note(sp, key, n(args) if callable(n) else n)
        return after

    def write_bytes(kind):
        # append adds files to the table directory; overwrite replaces it
        def before(args):
            store, name = args[0], args[1]
            return dir_files(store.table_path(name)) if kind == "append" else {}

        def after(sp, args, result, state):
            store, name = args[0], args[1]
            now = dir_files(store.table_path(name))
            written = sum(size for p, size in now.items() if p not in state)
            tracer.note(sp, "tables.bytes_written", written)
        return before, after

    tracer.on_thread_entry = lambda op: sc.setJobGroup(f"op-{op.id}", op.name, False)

    tracer.patch(server, "_run_ref_statement", "server._run_ref_statement", None)
    tracer.patch(pkg.Engine, "ref_sql", "engine.ref_sql", "refsql.build")
    tracer.patch(refsql.RefSQL, "execute", "refsql.execute", "refsql.build",
                 after=count("refsql.statements"))
    tracer.patch(refsql, "tokenize", "refsql.tokenize", "refsql.tokenize")
    tracer.patch(pkg.Engine, "table", "engine.table", "engine.table")
    tracer.patch(pkg.Engine, "coerce_rows_df", "engine.coerce_rows_df", "engine.coerce")
    tracer.patch(pkg.Engine, "ingest_parquet", "engine.ingest_parquet", "engine.ingest")
    store = tables.ParquetTableStore
    tracer.patch(store, "read", "tables.read", "tables.read", after=count("tables.read_calls"))
    before, after = write_bytes("append")
    tracer.patch(store, "append", "tables.append", "tables.append", before=before, after=after)
    before, after = write_bytes("overwrite")
    tracer.patch(store, "overwrite", "tables.overwrite", "tables.overwrite",
                 before=before, after=after)
    for method in ("add_table", "update_table", "drop_table"):
        tracer.patch(pkg.Catalog, method, f"catalog.{method}", "catalog.save",
                     after=count("catalog.saves"))
    tracer.patch(fmt, "format_rows", "format.format_rows", "format.render",
                 after=count("format.rows", lambda args: len(args[1])))
    tracer.patch(DataFrame, "collect", "spark.collect", "exec",
                 after=lambda sp, args, result: _catalyst_phases(tracer, sp, args, result))
    tracer.patch(DataFrame, "count", "spark.count", "exec")

    # Workload modules bind ``load`` by name at import: wrap every binding.
    tracer.patch(registry, "_load_uncached", "registry._load_uncached", WORKLOAD_LAYER,
                 after=count("workloads.load_uncached"))
    load = registry.load
    for m in list(sys.modules.values()):
        if (getattr(m, "__name__", "").startswith(f"{pkg.__name__}.workloads")
                and getattr(m, "load", None) is load):
            tracer.patch(m, "load", "registry.load", WORKLOAD_LAYER,
                         after=count("workloads.load_calls"))


def attribute_jobs(tracer: Tracer, jobs: dict, stages: dict, op_ids: set[int]) -> dict[int, dict]:
    """Spark work per timed operation, from the event log.

    Jobs carry the job group ``op-<id>[-<part>]`` set by the traced run.
    A job that ran inside a workload function, outside any wrapped collect
    or count, becomes an ``exec`` span there: an eager job (localCheckpoint,
    a training collect) that the function triggered."""
    per_op: dict[int, dict] = {}
    spans = list(tracer.spans)
    for job in jobs.values():
        group = job["group"] or ""
        if not group.startswith("op-"):
            continue
        parts = group.split("-")
        op = int(parts[1])
        if op not in op_ids:
            continue
        acc = per_op.setdefault(op, {"jobs": 0, "stages": 0, "eager_jobs": 0})
        acc["jobs"] += 1
        eager = len(parts) > 2 and parts[2] == "fn"
        acc["eager_jobs"] += eager
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None:
                continue  # skipped: its output was reused
            acc["stages"] += 1
            for k, v in st.items():
                acc[k] = acc.get(k, 0) + v
        if not eager or job["end"] is None:
            continue
        host = deepest_container(spans, op, job["start"], job["end"])
        if host is not None and host.layer == WORKLOAD_LAYER:
            tracer.add("spark.job", "exec", max(job["start"], host.start),
                       min(job["end"], host.end), host)
    return per_op
