"""Structured Streaming tier over the ``events`` table.

The reference has no streaming of any kind (SURVEY.md §2.8); this tier is
the beyond-reference design: event-time processing with watermarks, window
aggregations (tumbling / sliding / session), and stateful dedup — the
standard Spark patterns that run identically against Kafka/file streams on a
cluster.

For tests and the driver's bounded-input checks, a parquet file drives the
stream: ``read_events_stream`` + ``run_to_memory`` (memory sink +
``processAllAvailable``) executes the streaming query to completion
synchronously and returns the materialized result — the documented local
pattern for exercising streaming semantics on bounded data.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

# events.parquet has shipped with two ts encodings across fixture
# generations: TIMESTAMP(NANOS), which the parquet reader only accepts as
# long (nanosAsLong → declare long, convert to micros), and plain
# TIMESTAMP(MICROS) (declare timestamp_ntz, cast — value-preserving under
# the UTC session tz). The stream source needs the schema declared up front,
# so sniff the footer driver-side (one pyarrow metadata read, no data scan).


def _events_raw_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """(declared schema, ts_is_nanos_long) for ``{sf_dir}/events.parquet``."""
    import pyarrow.parquet as pq

    ts_arrow = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    ts_str = str(ts_arrow)
    # Exact match, not a prefix: 'timestamp[ns, tz=...]' carries UTC
    # instants whose nanos must NOT be read as naive wall-clock values —
    # a prefix check would shift every window by the zone offset silently.
    nanos = ts_str == "timestamp[ns]"
    if not nanos and ts_str not in ("timestamp[us]", "timestamp[ms]", "timestamp[s]"):
        # Fail loudly on an encoding we haven't verified (int64 physical,
        # or ANY tz-adjusted timestamp[*, tz=...]): silently declaring
        # TimestampNTZType would misread values or fail at stream start
        # with a confusing source-side error.
        raise ValueError(
            f"events.parquet ts column has unsupported type {ts_str!r}; "
            "expected naive timestamp[ns] (read as nanos-long) or naive "
            "timestamp[s|ms|us]"
        )
    ts_field = T.LongType() if nanos else T.TimestampNTZType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_field),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, nanos


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, nanos = _events_raw_schema(sf_dir)
    # The file stream source requires a directory; point it at the sf dir
    # with a glob filter selecting just the events file.
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event type, watermarked 10 minutes —
    late rows beyond the watermark would be dropped on a live stream."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("window.start").alias("ws"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_value_sum(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("window.start").alias("ws"), "n", "total")
    )


def sliding_value_avg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 2).alias("avg_value"))
        .select(F.col("window.start").alias("ws"), "n", "avg_value")
    )


def session_windows(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user sessionization: a session extends while consecutive events
    arrive within ``gap``. State is bounded by the watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )


def tumbling_hll_registers(
    events: DataFrame, key_col: str = "user_id",
    width: str = "1 hour", p: int = 8, ts_col: str = "ts",
) -> DataFrame:
    """Streaming HLL register table per tumbling window: distinct-``key``
    sketches maintained AS the streaming state. The scan stage computes
    (bucket, rho) row-locally (operators/sketch hashing — engine-portable
    md5 derivation); the streaming aggregation is ``groupBy(window,
    bucket).max(rho)`` — a per-window state of at most m = 2^p rows no
    matter how many distinct keys flow through, and MAX is exactly the
    HLL merge operation, so micro-batch folding IS sketch merging. This
    is the streaming form of the batch rollup: the state never grows
    with cardinality, only with windows — the property an exact
    streaming COUNT(DISTINCT) (state = every key seen) cannot have.
    Output: ``ws timestamp, bucket int, rho int``; feed the result to
    :func:`..operators.sketch.hll_estimate` (group_cols=["ws"]) for the
    per-window estimates. ``ts_col`` names the event-time column the
    window and watermark key on (default ``ts``)."""
    from ..operators.sketch import HASH_BITS, _check_p, hash60

    _check_p(p)
    m = 1 << p
    h = hash60(F.col(key_col).cast("string"))
    w = F.expr(f"__h DIV {m}")
    staged = events.select(ts_col, h.alias("__h")).select(
        ts_col,
        F.pmod(F.col("__h"), F.lit(m)).cast("int").alias("bucket"),
        (
            F.lit(HASH_BITS - p + 1)
            - F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
        ).cast("int").alias("__rho"),
    )
    return (
        staged.withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(ts_col, width), "bucket")
        .agg(F.max("__rho").alias("rho"))
        .select(F.col("window.start").alias("ws"), "bucket", "rho")
    )


def session_hll_registers(
    events: DataFrame, key_col: str = "event_type",
    item_col: str = "user_id", gap: str = "2 hours", p: int = 7,
    ts_col: str = "ts",
) -> DataFrame:
    """Round-9: HLL registers per SESSION window — distinct-``item``
    sketches where the session-window merge and the sketch merge are the
    same fold. Unlike the tumbling variant, ``bucket`` must NOT be a
    grouping key here: session windows are data-driven per group, so
    grouping by (key, bucket) would sessionize each bucket's events
    independently and split sessions per bucket (a real bug caught by
    the oracle in round 9). Instead the state is the full register VECTOR
    — m explicit ``MAX(rho WHERE bucket=i)`` aggregates in ONE streaming
    aggregation — so merging two sessions (a late-but-in-watermark event
    bridging two bursts) folds the registers elementwise, which IS the
    HLL merge. State = exactly m small ints per active (key, session);
    the watermark closes sessions and drops their state. Output:
    ``session_start, session_end, <key>, r0..r{m-1}`` (wide); unpivot to
    (bucket, rho) rows for :func:`..operators.sketch.hll_estimate`. m is
    capped at 256 columns — at p > 8 use the tumbling form or a custom
    stateful operator instead."""
    from ..operators.sketch import HASH_BITS, _check_p, hash60

    _check_p(p)
    m = 1 << p
    if m > 256:
        raise ValueError(
            "session_hll_registers: p > 8 (m > 256 register columns) — "
            "use tumbling_hll_registers or applyInPandasWithState"
        )
    h = hash60(F.col(item_col).cast("string"))
    w = F.expr(f"__h DIV {m}")
    staged = events.select(ts_col, key_col, h.alias("__h")).select(
        ts_col,
        key_col,
        F.pmod(F.col("__h"), F.lit(m)).cast("int").alias("bucket"),
        (
            F.lit(HASH_BITS - p + 1)
            - F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
        ).cast("int").alias("__rho"),
    )
    return (
        staged.withWatermark(ts_col, "10 minutes")
        .groupBy(F.session_window(ts_col, gap), key_col)
        .agg(
            *[
                F.max(
                    F.when(F.col("bucket") == i, F.col("__rho"))
                ).alias(f"r{i}")
                for i in range(m)
            ]
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            *[f"r{i}" for i in range(m)],
        )
    )


def tumbling_cms(
    events: DataFrame, key_col: str = "user_id",
    width: str = "1 hour", cms_width: int = 256, depth: int = 3,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming Count-Min grid per tumbling window: the frequency
    sketch maintained AS the streaming state. The scan stage computes
    the depth (row, bucket) positions row-locally (operators/sketch
    salted-md5 hashing); the streaming aggregation is ``groupBy(window,
    i, bucket).count`` — at most depth·cms_width counter rows per window
    no matter how many distinct keys flow through, and COUNT's
    micro-batch fold is exactly the CMS merge (addition). Point queries
    run batch-side against the materialized grid
    (:func:`..operators.sketch.cms_point_estimates`); the CMS guarantee
    (never an undercount) survives streaming because addition is the
    merge. Output: ``ws timestamp, i int, bucket int, cnt long``.
    ``ts_col`` names the event-time column (default ``ts``)."""
    from ..operators.sketch import _cms_bucket

    if cms_width < 2 or depth < 1:
        raise ValueError("cms requires width >= 2 and depth >= 1")
    key = F.col(key_col).cast("string")
    pos = F.array(*[
        F.struct(
            F.lit(i).cast("int").alias("i"),
            _cms_bucket(key, i, cms_width).cast("int").alias("bucket"),
        )
        for i in range(depth)
    ])
    return (
        events.select(ts_col, F.explode(pos).alias("p"))
        .select(ts_col, "p.i", "p.bucket")
        .withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(ts_col, width), "i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "i", "bucket", "cnt")
    )


def tumbling_histogram(
    events: DataFrame, value_col: str = "value",
    lo: float = 0.0, hi: float = 1000.0, n_bins: int = 500,
    width: str = "1 day", ts_col: str = "ts",
) -> DataFrame:
    """Round-9: equi-width histogram per tumbling window with the BINS as
    the streaming state — the streaming quantile sketch that replays in
    ANSI SQL. The scan assigns each event its bin row-locally (same
    clamped formula as the batch operators/sketch.hist_build, so batch
    and stream agree bit-for-bit); the streaming aggregation is
    ``groupBy(window, bin).count`` — at most n_bins counter rows per
    window no matter how many events flow through, and COUNT's
    micro-batch fold is exactly the histogram merge (addition), the same
    state-IS-the-sketch property the CMS/HLL streaming forms have. Feed
    the materialized bins to :func:`..operators.sketch.hist_quantiles`
    (group_cols=["ws"]) for per-window quantiles with value error ≤ one
    bin width. Output: ``ws timestamp, bin int, cnt long``."""
    if n_bins < 2 or not hi > lo:
        raise ValueError("histogram requires n_bins >= 2 and hi > lo")
    bw = (hi - lo) / n_bins
    b = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(bw))
    b = F.least(F.greatest(b.cast("int"), F.lit(0)), F.lit(n_bins - 1))
    return (
        events.where(F.col(value_col).isNotNull())
        .select(ts_col, b.alias("bin"))
        .withWatermark(ts_col, "10 minutes")
        .groupBy(F.window(ts_col, width), "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("ws"), "bin", "cnt")
    )


def static_enrich(
    stream: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    (bounded, batch) dimension table. No watermark and no join state — the
    static side is re-resolvable per batch, so this is the cheapest join in
    Structured Streaming. The dim is broadcast: the stream side keeps its
    partitioning, so enrichment adds zero shuffles to the micro-batch
    (broadcast per batch; for a big-dim stream join, pre-bucket both sides
    instead)."""
    return stream.join(F.broadcast(dim), on, how)


def dedup_within_watermark(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming dedup: first occurrence per key wins; state for a key is
    dropped once the watermark passes it (bounded memory on infinite
    streams) — dropDuplicatesWithinWatermark."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(keys)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    totals (event count + value sum) carried across micro-batches in
    explicit GroupState — the escape hatch for aggregations the built-in
    windowed operators can't express. State is one small tuple per user;
    at scale it partitions by user_id across the cluster and survives
    restarts through the checkpoint."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def temporal_enrich_latest(
    events: DataFrame,
    ref_type: str = "click",
    evt_type: str = "purchase",
    key_col: str = "user_id",
    ts_col: str = "ts",
    buffer_seconds: "float | None" = None,
) -> DataFrame:
    """Round-9: streaming TEMPORAL (as-of) enrichment via
    applyInPandasWithState — each ``evt_type`` event is enriched with the
    LATEST ``ref_type`` event at-or-before its timestamp, per key. The
    state is ONE tuple per key (the latest reference seen), the temporal
    join no built-in streaming operator expresses: a stream-stream
    interval join needs a bounded interval, while as-of wants "the most
    recent, however old" — exactly what explicit GroupState holds at
    constant size.

    Within a micro-batch, rows process in event-time order (references
    before events on ties), so on bounded single-batch input the result
    is EXACTLY the batch backward as-of join — which is what the DuckDB
    ASOF JOIN oracle checks. On a live multi-batch stream an event joins
    only state that has already arrived, and the single-tuple state keeps
    only the NEWEST reference — cross-batch disorder (a late reference,
    or an event older than the retained reference) degrades to a NULL or
    the floor reference.

    ``buffer_seconds`` (round-10) closes that caveat: the state becomes a
    watermark-style BOUNDED BUFFER of references per key — all references
    within ``buffer_seconds`` of the key's max seen event time, plus one
    floor reference below the horizon (so as-of lookups older than the
    horizon still resolve). A late-arriving reference then enriches a
    LATER batch's events correctly (binary-searched at-or-before lookup),
    and an event never joins a reference from its future. State size is
    bounded by the reference rate within the horizon — the same bound a
    watermarked stream-stream join holds.

    Output: ``evt_id, <key>, ref_id, ref_value`` (NULLs when no reference
    precedes the event)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("evt_id", T.LongType()),
            T.StructField(key_col, T.LongType()),
            T.StructField("ref_id", T.LongType()),
            T.StructField("ref_value", T.DoubleType()),
        ]
    )
    tagged = events.filter(
        F.col("event_type").isin([ref_type, evt_type])
    ).select(
        key_col,
        "event_id",
        F.col("event_type").alias("tag"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("tsm"),
        "value",
    )

    def _sorted_rows(pdfs):
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return None
        rows = pd.concat(parts)
        # event-time order; references win ties (ASOF >= includes the
        # equal-timestamp reference)
        rows = rows.assign(__r=(rows["tag"] != ref_type).astype(int))
        return rows.sort_values(["tsm", "__r", "event_id"])

    if buffer_seconds is None:
        state_schema = T.StructType(
            [
                T.StructField("ref_ts", T.LongType()),  # epoch micros
                T.StructField("ref_id", T.LongType()),
                T.StructField("ref_value", T.DoubleType()),
            ]
        )

        def update(key, pdfs, state: GroupState):
            ref_ts, ref_id, ref_val = (
                state.get if state.exists else (None, None, None)
            )
            out = {"evt_id": [], key_col: [], "ref_id": [], "ref_value": []}
            rows = _sorted_rows(pdfs)
            if rows is not None:
                for eid, tag, tsm, val in zip(
                    rows["event_id"], rows["tag"], rows["tsm"], rows["value"]
                ):
                    if tag == ref_type:
                        if ref_ts is None or tsm >= ref_ts:
                            ref_ts, ref_id, ref_val = (
                                int(tsm), int(eid), float(val)
                            )
                    else:
                        # as-of: only a reference at-or-before the event
                        # qualifies — a newer retained reference (cross-
                        # batch disorder) must not enrich an older event
                        hit = ref_ts is not None and ref_ts <= tsm
                        out["evt_id"].append(int(eid))
                        out[key_col].append(int(key[0]))
                        out["ref_id"].append(ref_id if hit else None)
                        out["ref_value"].append(ref_val if hit else None)
            state.update((ref_ts, ref_id, ref_val))
            yield pd.DataFrame(out)

    else:
        import bisect

        horizon = int(buffer_seconds * 1_000_000)
        state_schema = T.StructType(
            [
                T.StructField("ref_ts", T.ArrayType(T.LongType())),
                T.StructField("ref_id", T.ArrayType(T.LongType())),
                T.StructField("ref_value", T.ArrayType(T.DoubleType())),
                T.StructField("max_ts", T.LongType()),
            ]
        )

        def update(key, pdfs, state: GroupState):  # noqa: F811
            if state.exists:
                b_ts, b_id, b_val, max_ts = state.get
                b_ts, b_id, b_val = list(b_ts), list(b_id), list(b_val)
            else:
                b_ts, b_id, b_val, max_ts = [], [], [], None
            out = {"evt_id": [], key_col: [], "ref_id": [], "ref_value": []}
            rows = _sorted_rows(pdfs)
            if rows is not None:
                for eid, tag, tsm, val in zip(
                    rows["event_id"], rows["tag"], rows["tsm"], rows["value"]
                ):
                    tsm = int(tsm)
                    max_ts = tsm if max_ts is None else max(max_ts, tsm)
                    if tag == ref_type:
                        # insert after any equal-ts refs: on ties the
                        # later-inserted (higher event_id, since the batch
                        # is sorted) reference wins the lookup
                        j = bisect.bisect_right(b_ts, tsm)
                        b_ts.insert(j, tsm)
                        b_id.insert(j, int(eid))
                        b_val.insert(j, float(val))
                    else:
                        j = bisect.bisect_right(b_ts, tsm) - 1
                        out["evt_id"].append(int(eid))
                        out[key_col].append(int(key[0]))
                        out["ref_id"].append(b_id[j] if j >= 0 else None)
                        out["ref_value"].append(b_val[j] if j >= 0 else None)
            if max_ts is not None and b_ts:
                # evict below the horizon, keeping ONE floor reference so
                # as-of lookups older than the horizon still resolve
                cutoff = max_ts - horizon
                j = bisect.bisect_left(b_ts, cutoff)
                keep_from = max(0, j - 1)
                b_ts, b_id, b_val = (
                    b_ts[keep_from:], b_id[keep_from:], b_val[keep_from:]
                )
            state.update((b_ts, b_id, b_val, max_ts))
            yield pd.DataFrame(out)

    return tagged.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_upsert_into(engine, table: str, stream: DataFrame, keys: list[str]):
    """Exactly-once-style streaming sink: each micro-batch MERGEs into an
    engine table via foreachBatch (anti-join + union + one commit). The
    foreachBatch pattern is the standard CDC/SCD sink when no Delta/Iceberg
    commit protocol is on the classpath. Returns the StreamingQuery."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dedup = batch_df.dropDuplicates(keys)
        engine.upsert(table, dedup, keys)

    return stream.writeStream.outputMode("update").foreachBatch(merge_batch).start()


def stream_append_exactly_once(
    engine, table: str, stream: DataFrame, app_id: str | None = None
):
    """Exactly-once streaming APPEND into an engine table.

    foreachBatch gives at-least-once delivery: after a failure the same
    micro-batch re-runs with the SAME epoch_id. This sink upgrades that
    to exactly-once with the ledger trick Delta's txn table / Kafka's
    transactional producer use, adapted to plain parquet directories:

    1. every epoch's files land in the table's live version directory
       under names carrying the producer+epoch prefix
       (``epoch-<app8>-<id>-part-<k>.parquet``; partitioned tables place
       them inside their hive ``col=value/`` directories), staged first in
       a hidden ``_stage-*`` directory inside the table directory (which
       the next engine open deletes if a kill left it) and renamed in
       (rename is atomic per file) by ``ParquetTableStore.append_prefixed``;
    2. a replay first REMOVES any partial ``epoch-<app8>-<id>-*`` files
       from a crashed attempt — anywhere in the partition tree — then
       moves the fresh complete set, so a crash at ANY point (mid-stage,
       mid-move, before the ledger write) replays to exactly the batch's
       rows, never a mix of attempts;
    3. committed epochs are recorded per producer in an atomically-
       replaced ledger (``.stream_commits/<table>.json``, a JSON object
       ``{app_id: [epoch, ...]}``) so a replay of a COMMITTED epoch is
       skipped without touching storage.

    The ledger key is ``(app_id, epoch_id)`` — Delta's
    ``(txnAppId, txnVersion)`` pattern — NOT epoch_id alone: a fresh
    checkpoint-less query restarts epochs at 0, and an epoch-only ledger
    would silently DROP its (possibly different) data as already
    committed. ``app_id`` identifies the logical producer: pass a stable
    id (plus a checkpointLocation, so epoch ids are monotone across
    restarts) to get exactly-once across restarts/re-deliveries of the
    SAME stream; the default — a fresh id per call — treats every new
    sink as a new producer, so its batches always land. Within one run,
    Spark's retry of a failed micro-batch reuses the epoch_id and is
    deduped either way.

    Single writer per (table, app_id) — the Structured Streaming
    contract anyway. A concurrent reader during a replay's remove+move
    window can see a partial epoch (the same caveat as any non-snapshot
    parquet append).

    At 100 TB this is the standard ingestion posture: micro-batch
    appends stay distributed (one staged write per epoch, renames are
    metadata ops — a partitioned epoch is one rename per part file, not
    per row), and failure recovery costs one epoch's rewrite, not a
    table scan. Returns the StreamingQuery."""
    import hashlib
    import json as _json

    from ..commit import write_json_atomic

    store = engine.store
    meta = engine.catalog.get(table)
    if app_id is None:
        app_id = uuid.uuid4().hex
    # short fs-safe producer tag for file prefixes; the ledger keeps the
    # full app_id (two producers' epoch files must never collide, or one
    # replay's cleanup would delete the other's committed rows)
    app8 = hashlib.md5(app_id.encode()).hexdigest()[:8]
    ledger_dir = os.path.join(store.root, ".stream_commits")
    os.makedirs(ledger_dir, exist_ok=True)
    ledger = os.path.join(ledger_dir, f"{table}.json")

    def _committed() -> dict[str, set[int]]:
        if not os.path.exists(ledger):
            return {}
        with open(ledger) as f:
            data = _json.load(f)
        if isinstance(data, list):  # pre-r12 epoch-only ledger
            return {"": set(data)}
        return {k: set(v) for k, v in data.items()}

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = _committed()
        if int(epoch_id) in done.get(app_id, set()):
            return  # replayed after a successful commit: exactly-once skip
        aligned = batch_df.select(
            *[F.col(c.name).cast(c.spark_type) for c in meta.columns]
        )
        store.append_prefixed(table, aligned, f"epoch-{app8}-{epoch_id}-")
        done = _committed()  # re-read: cheap, and keeps the write fresh
        done.setdefault(app_id, set()).add(int(epoch_id))
        write_json_atomic(ledger, {k: sorted(v) for k, v in done.items()})

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(commit_batch)
        .start()
    )


def run_to_memory(
    sdf: DataFrame,
    mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = 8,
) -> DataFrame:
    """Execute a (bounded) streaming DataFrame to completion via a memory
    sink; returns the materialized batch DataFrame.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for this
    query's lifetime. A streaming query's state-store partition count is
    fixed at first start from that conf, and every micro-batch pays a
    per-partition state commit — so it must be sized to stream volume, not
    inherited from the batch shuffle default (32 partitions of mostly-empty
    state cost ~5x the runtime of 8 on these bounded streams; on a live
    cluster you size it to peak keys/throughput once, at first deploy).

    Checkpoint location (round-15): the query's offset/commit logs and
    state-store snapshots go to ``$SPARKDB_STREAM_CHECKPOINT_DIR``, else
    ``/dev/shm`` when present, else the system tempdir — and are removed
    when the bounded run finishes. These logs are per-micro-batch fsync
    traffic; for this bounded-input memory-sink harness they are ephemeral
    by construction (the default temp checkpoint was already deleted on
    exit), so RAM-backed placement only removes disk-burst latency from the
    measurement (measured 2.18 → 1.92 s warm on the session-HLL shape, and
    8.5 → 2.2 s under a disk-contention burst). On a live cluster the
    checkpoint MUST be durable shared storage — set the env var / Spark's
    ``checkpointLocation`` accordingly; nothing here changes that contract.
    """
    spark = sdf.sparkSession
    name = name or f"stream_{uuid.uuid4().hex[:10]}"
    base = os.environ.get("SPARKDB_STREAM_CHECKPOINT_DIR") or (
        "/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    ckpt = os.path.join(base, f"sparkdb_ckpt_{name}") if base else None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = sdf.writeStream.outputMode(mode).format("memory").queryName(name)
        if ckpt is not None:
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def stream_stream_interval_join(
    clicks: DataFrame, purchases: DataFrame, window_seconds: int = 600
) -> DataFrame:
    """Stream-stream inner join with an event-time interval constraint:
    each click joins purchases by the same user within the following
    ``window_seconds``. Both sides are watermarked so the join state is
    bounded — Spark drops buffered rows once the watermark passes the
    interval bound (the canonical stream-stream join pattern).
    """
    c = (
        clicks.withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_seconds} seconds")
        ),
        "inner",
    )
