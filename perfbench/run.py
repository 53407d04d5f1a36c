"""sparkdb benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end metrics
with nothing wrapped; ``--trace 1`` wraps each layer's entry points and
turns on Spark's event log to report the per-layer metrics. The last line of
standard output is one JSON object (``correct``, ``attempted``, ``failed``,
``metrics``); the lines before it are the full report. The fixture and the
saved results live under ``.bench_build/perfbench`` in the working
directory; each run's engine root and Spark scratch space are created there
and removed at the end.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import perfbench and the package from the checkout root

from perfbench import fixture, stats  # noqa: E402

PACKAGE = "custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark"
FIXTURE_SF = 0.02
MASTER = "local[4]"
CPUS = "4"  # SPARK_GRAFT_CPUS: the package sizes shuffle partitions from it
DRIVER_MEMORY = "4g"

LAYER_TIMES = {  # span layer -> per-layer metric (ms per unit)
    "server": "server.overhead_ms",
    "refsql.tokenize": "refsql.tokenize_ms",
    "refsql.build": "refsql.build_ms",
    "engine.table": "engine.table_ms",
    "engine.coerce": "engine.coerce_ms",
    "engine.ingest": "engine.ingest_ms",
    "tables.read": "tables.read_ms",
    "tables.append": "tables.append_ms",
    "tables.overwrite": "tables.overwrite_ms",
    "catalog.save": "catalog.save_ms",
    "catalyst": "catalyst.self_ms",
    "exec": "exec.wall_ms",
    "format.render": "format.render_ms",
    "workloads.build": "workloads.build_ms",
    "trace": "trace.bookkeeping_ms",
    "unattributed": "unattributed_ms",
}
NOTED = [  # counts the hooks note per unit; the metric has the same name
    "refsql.statements", "tables.read_calls", "format.rows", "catalog.saves",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "workloads.load_calls", "tables.bytes_written",
]
FROM_EVENT_LOG = {
    "jobs": "exec.jobs", "stages": "exec.stages", "tasks": "exec.tasks",
    "run_ms": "exec.run_ms", "gc_ms": "exec.gc_ms",
    "shuffle_read_bytes": "exec.shuffle_read_bytes",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "spill_bytes": "exec.spill_bytes", "eager_jobs": "workloads.eager_jobs",
}
WRITES = ("insert", "update", "delete")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["interactive_sql", "pipeline_batch", "write_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _declared_units() -> tuple[dict, dict]:
    """Metric -> unit for the end-to-end and per-layer lists of
    BENCHMARK.json, the one place the metric set is declared."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# -- processes and host ---------------------------------------------------


def _descendants(pid: int) -> list[int]:
    """Processes below ``pid`` (Spark's Python worker daemons)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    under = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in under:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _ticks(stat_path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file; 0 once the
    process or thread is gone."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15 if children else 13])


def _jit_ticks(jvm_pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                name = f.read()
        except OSError:
            continue
        if "CompilerThre" in name:
            total += _ticks(f"/proc/{jvm_pid}/task/{tid}/stat", children=False)
    return total


def _cpu_sample(jvm_pid: int) -> tuple[list[int], int, int]:
    """Host CPU ticks by state (/proc/stat); the ticks used so far by this
    process, the JVM and the JVM's Python workers; and the part of those
    spent by the JIT compiler."""
    with open("/proc/stat") as f:
        host = [int(x) for x in f.readline().split()[1:]]
    own = sum(_ticks(f"/proc/{pid}/stat", children=True)
              for pid in [os.getpid(), jvm_pid, *_descendants(jvm_pid)])
    return host, own, _jit_ticks(jvm_pid)


def _work_s(sample) -> float:
    """CPU seconds this run's processes used up to ``sample``, JIT
    compilation excluded: compile work is warm-up whose amount and timing
    vary from run to run."""
    return (sample[1] - sample[2]) / os.sysconf("SC_CLK_TCK")


def _own_s() -> float:
    """CPU seconds of this process and its reaped children so far."""
    return _ticks(f"/proc/{os.getpid()}/stat", children=True) / os.sysconf("SC_CLK_TCK")


def _contention(before, after) -> dict:
    """Share of the host's CPU time, while timing ran, that the hypervisor
    took (steal) or that processes outside this run used."""
    (h0, own0, _), (h1, own1, _) = before, after
    d = [b - a for a, b in zip(h0, h1)]
    total = sum(d[:8]) or 1
    busy = total - d[3] - d[4]  # minus idle and iowait
    return {
        "steal_pct": 100.0 * d[7] / total,
        "other_busy_pct": 100.0 * max(0, busy - d[7] - (own1 - own0)) / total,
    }


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- metrics ----------------------------------------------------------------


def _median_ms(ops) -> tuple:
    ms = [o.ms for o in ops]
    if not ms:
        return (None, "ms", 0, "no samples in the timed region")
    return (stats.median(ms), "ms", len(ms))


def _workload_metrics(w, name: str, summary: dict) -> dict:
    """The workload's own end-to-end metrics: ``name -> (value, unit, n)``,
    or ``(None, unit, n, why)`` when the samples do not allow it."""
    out = {}
    if name == "interactive_sql":
        ms = [o.ms for o in w.ops]
        out["select_p50_ms"] = (stats.median(ms), "ms", len(ms))
        try:
            out["select_p90_ms"] = (stats.percentile(ms, 0.9), "ms", len(ms))
        except stats.TooFewSamples as exc:
            out["select_p90_ms"] = (None, "ms", len(ms), str(exc))
    elif name == "pipeline_batch":
        passes = [u.ms / 1000.0 for u in w.units]
        out["pipeline_pass_s"] = (stats.median(passes), "s", len(passes))
    else:
        for kind in (*WRITES, "read_after_write"):
            out[f"{kind}_p50_ms"] = _median_ms([o for o in w.ops if o.kind == kind])
        uploads = [o for o in w.ops if o.kind == "upload"]
        if uploads:
            rows = uploads[0].extra["rows"]
            upload_s = stats.median([o.ms for o in uploads]) / 1000.0
            out["ingest_rows_per_s"] = (rows / upload_s, "1/s", len(uploads))
        out["stored_bytes_ratio"] = (summary["stored_bytes"] / summary["fresh_bytes"], "ratio", 1)
    failed = sum(not o.ok for o in w.ops)
    out["op_error_ratio"] = (failed / len(w.ops), "ratio", len(w.ops))
    return out


def _layer_metrics(tracer, w, name: str, summary: dict, event_log: str) -> dict:
    """Per-layer metrics over the timed units, each per unit."""
    from perfbench.hooks import WORKLOAD_LAYER, attribute_jobs
    from perfbench.spans import UNATTRIBUTED, layer_self_times, parse_event_log, self_times

    with open(event_log) as f:
        jobs, stages = parse_event_log(f)
    ids = {u.span_id for u in w.units}
    n = len(ids)
    per_unit = attribute_jobs(tracer, jobs, stages, ids)
    spans = [s for s in tracer.spans if s.op in ids]
    lt = layer_self_times(spans)
    unknown = set(lt) - set(LAYER_TIMES) - {UNATTRIBUTED}
    if unknown:
        raise RuntimeError(f"spans in layers without a metric: {sorted(unknown)}")
    out = {metric: lt.get(layer, 0.0) * 1000.0 / n for layer, metric in LAYER_TIMES.items()}
    notes: dict[str, float] = {}
    for i in ids:
        for k, v in tracer.notes.get(i, {}).items():
            notes[k] = notes.get(k, 0) + v
    for key in NOTED:
        out[key] = notes.get(key, 0) / n
    for key, metric in FROM_EVENT_LOG.items():
        out[metric] = sum(acc.get(key, 0) for acc in per_unit.values()) / n

    # eager execution: exec self time inside a workload function
    by_id = {s.id: s for s in spans}
    st = self_times(spans)

    def in_workload_fn(s) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.layer == WORKLOAD_LAYER and p.name.startswith("workloads."):
                return True
            p = by_id.get(p.parent)
        return False

    out["workloads.eager_exec_ms"] = 1000.0 / n * sum(
        st[s.id] for s in spans if s.layer == "exec" and in_workload_fn(s))
    loads = notes.get("workloads.load_calls", 0)
    out["workloads.scan_cache_hit_ratio"] = (
        (loads - notes.get("workloads.load_uncached", 0)) / loads if loads else 0.0)
    out["tables.write_amplification"] = 0.0
    if name == "write_mix":
        written = sum(tracer.notes.get(u.span_id, {}).get("tables.bytes_written", 0)
                      for u in w.units if u.name in WRITES)
        changed = sum(o.extra.get("rows", 0) for o in w.ops if o.kind in WRITES)
        row_bytes = summary["fresh_bytes"] / max(1, summary["final_rows"])
        if changed:
            out["tables.write_amplification"] = written / (changed * row_bytes)
    out["tables.files_per_table"] = summary["files_per_table"]
    out["unit_wall_ms"] = sum(by_id[i].dur for i in ids) * 1000.0 / n
    return out


# -- one run ------------------------------------------------------------------


def _spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            # a fixed set of JIT compiler threads, so their CPU can be told
            # apart from the engine's work (_jit_ticks)
            "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # per-task events are the bulk of the log; the stage records
            # carry the same metrics summed
            "spark.eventLog.excludedPatterns":
                "SparkListenerTaskStart,SparkListenerTaskEnd,SparkListenerTaskGettingResult",
        })
    return conf


def _run(args, pkg, run_dir: str, fixture_dir: str, fixture_cost: tuple) -> dict:
    """Set up, time, check and tear down one workload; the result record."""
    from perfbench import work
    from perfbench.spans import Tracer

    for sub in ("db", "local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARKDB_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": CPUS,
    })
    tempfile.tempdir = None  # re-read TMPDIR

    spark = w = None
    try:
        t0 = time.perf_counter()
        spark = pkg.get_spark(app_name="perfbench", master=MASTER,
                              extra_conf=_spark_conf(run_dir, args.trace))
        session = {"spark_start_s": time.perf_counter() - t0}
        config = {
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "fixture_sf": FIXTURE_SF,
            "pyspark": spark.version,
            "cpus": os.cpu_count(),
        }
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            from perfbench.hooks import install

            install(tracer, pkg, spark)
        ctx = work.Ctx(pkg, spark, fixture_dir, fixture.sizes(FIXTURE_SF), args.seed,
                       os.path.join(run_dir, "db"), tracer)
        w = work.WORKLOADS[args.workload](ctx)
        w.setup()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cpu0 = _cpu_sample(jvm_pid)
        t_first = time.perf_counter()
        w.run(args.seconds)
        measured_s = time.perf_counter() - t_first
        cpu1 = _cpu_sample(jvm_pid)
        host = _contention(cpu0, cpu1)
        if tracer is not None:
            tracer.unpatch()
        wrong = w.check()
        summary = w.summary()
        session["jvm_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            _stop_spark(spark)

    units = [u.ms for u in w.units]
    failed = sum(not o.ok for o in w.ops)
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_seconds": args.seconds, "measured_s": measured_s, "config": config,
        "correct": wrong == 0 and failed == 0, "attempted": len(w.ops), "failed": failed,
        "wrong_answers": wrong,
        "end_to_end": {
            "unit_cpu_ms": (_work_s(cpu1) - _work_s(cpu0)) * 1000.0 / len(units),
            "unit_p50_ms": stats.median(units),
            "unit_mean_ms": statistics.fmean(units),
            # set-up CPU and wall time, fixture generation left out
            "setup_s": _work_s(cpu0) - fixture_cost[1],
            "setup_wall_s": t_first - T_START - fixture_cost[0],
        },
        "units": len(units),
        "workload_metrics": _workload_metrics(w, args.workload, summary),
        "session": session, "host": host, "summary": summary,
        "stream": [
            {"kind": o.kind, "sql": o.sql, "ms": o.ms, "ok": o.ok,
             "timed": i >= len(w.warm), **o.extra}
            for i, o in enumerate(w.warm + w.ops)
        ],
    }
    if tracer is not None:
        layers = _layer_metrics(tracer, w, args.workload, summary,
                                os.path.join(run_dir, "eventlog", app_id))
        layers["session.spark_start_s"] = session["spark_start_s"]
        layers["session.jvm_peak_rss_mb"] = session["jvm_peak_rss_mb"]
        result["per_layer"] = layers
    return result


def _report(r: dict, layer_units: dict) -> list[str]:
    n = r["units"]
    lines = [
        f"# sparkdb perfbench  workload={r['workload']} seed={r['seed']} trace={r['trace']} "
        f"run_seconds={r['run_seconds']:g} measured_s={r['measured_s']:.2f}",
        "# config " + " ".join(f"{k}={v}" for k, v in r["config"].items()),
        f"# correct={str(r['correct']).lower()} attempted={r['attempted']} "
        f"failed={r['failed']} wrong_answers={r['wrong_answers']}",
        f"# host while timing: steal={r['host']['steal_pct']:.1f}% "
        f"other_busy={r['host']['other_busy_pct']:.1f}% of all cpus",
        "# unit_cpu_ms and setup_s are CPU time, JIT compilation excluded; "
        "the latencies are wall-clock time and are not in the JSON line",
    ]
    for k, v in r["end_to_end"].items():
        unit = "s" if k.endswith("_s") else "ms"
        lines.append(f"end_to_end {k} = {v:.4f} {unit} (n={1 if k.startswith('setup') else n})")
    for k, v in r["workload_metrics"].items():
        if v[0] is None:
            lines.append(f"workload {k} = unavailable: {v[3]}")
        else:
            lines.append(f"workload {k} = {v[0]:.4f} {v[1]} (n={v[2]})")
    if "per_layer" in r:
        layers = r["per_layer"]
        for k, v in layers.items():
            lines.append(f"per_layer {k} = {v:.4f} {layer_units[k]} (per unit, n={n})")
        summed = sum(layers[m] for m in LAYER_TIMES.values())
        lines.append(f"# layer self times + unattributed = {summed:.3f} ms per unit; "
                     f"traced unit wall = {layers['unit_wall_ms']:.3f} ms")
        for k, v in r.get("trace_overhead", {}).items():
            lines.append(f"trace_overhead {k} = {v:+.4f} {'s' if k.endswith('_s') else 'ms'} "
                         "(traced - untraced)")
        if "trace_overhead" not in r:
            lines.append("# trace_overhead: no untraced result for this workload and seed yet")
    return lines


def main(argv=None) -> int:
    args = _args(argv)
    out_fd = os.dup(1)
    os.dup2(2, 1)  # Spark and the package print to stderr; the report goes to out_fd
    try:
        pkg = __import__(PACKAGE)
        e2e_units, layer_units = _declared_units()
    except (ImportError, OSError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2

    build = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    t0, cpu0 = time.perf_counter(), _own_s()
    fixture_dir = fixture.ensure_fixture(build, FIXTURE_SF)
    fixture_cost = (time.perf_counter() - t0, _own_s() - cpu0)
    run_dir = os.path.join(build, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        result = _run(args, pkg, run_dir, fixture_dir, fixture_cost)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    results = os.path.join(build, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        result["trace_overhead"] = {
            k: v - base[k] for k, v in result["end_to_end"].items() if k in base}
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    declared = layer_units if args.trace else e2e_units
    values = result["per_layer"] if args.trace else result["end_to_end"]
    if not set(declared) <= set(values):
        raise RuntimeError(f"metrics missing: {sorted(set(declared) - set(values))}")
    final = {
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": declared[k]} for k in declared},
    }
    with os.fdopen(out_fd, "w") as out:
        out.write("\n".join(_report(result, layer_units)) + "\n")
        out.write(json.dumps(final) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
