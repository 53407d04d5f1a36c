"""Driver workloads: corpus ranking, batch sessionization, percentile
profiles, and CDC merge — oracle-checked against DuckDB.

Float-parity rules (same as the rest of the suite): every computed double
is rounded before ranking/output on BOTH sides; multi-term float sums are
fixed-order column additions, never shuffle-order aggregates; averages of
integers are written as exact-integer-sum ÷ count (DuckDB's ``avg`` may
accumulate in shuffle order, Spark's ``sum(long)`` is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import maintenance, ranking, sessions
from ..operators.text import WORDISH
from .registry import load, query
from .scale import _SQL_NORM

_SQL_TOKS_NE = (
    "list_filter(string_split(" + _SQL_NORM.format(t="text") + ", ' '), x -> x <> '')"
)


# --- TF-IDF ----------------------------------------------------------------


@query(
    "tfidf_top3_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest({_SQL_TOKS_NE}) AS term FROM documents)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             round(c * ln((n_docs + 1.0) / (df_t + 1.0)), 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS INT) AS rk
      FROM scored
    )
    SELECT doc_id, rk, term, tfidf FROM ranked
    WHERE rk <= 3 AND doc_id < 30 ORDER BY doc_id, rk
    """,
)
def tfidf_top3_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IDF statistics come from the FULL corpus; only the output is
    # restricted to doc_id < 30. Ranking happens on the ROUNDED score with
    # a term tiebreak, so a 1-ulp ln() divergence between engines cannot
    # reorder rows.
    docs = load(spark, sf_dir, "documents")
    scored = ranking.tfidf(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        "term",
        F.round("tfidf", 4).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") < 30))
        .select("doc_id", "rk", "term", "tfidf")
        .orderBy("doc_id", "rk")
    )


# --- BM25 ------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "hash"]


@query(
    "bm25_top10",
    f"""
    WITH dl AS (SELECT doc_id, len({_SQL_TOKS_NE}) AS dl, {_SQL_TOKS_NE} AS t
                FROM documents),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, dl, term, count(*) AS c
      FROM (SELECT doc_id, dl, unnest(t) AS term FROM dl)
      WHERE term IN ('spark', 'join', 'hash')
      GROUP BY 1, 2, 3
    ),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
    -- operand order mirrors operators/ranking.py:bm25 exactly: same IEEE
    -- ops in the same order; (1.2 + 1.0) not 2.2 so the literal is the
    -- identical double Python's k1 + 1.0 bakes in.
    w AS (
      SELECT doc_id, term,
             ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)) * c * (1.2 + 1.0)
               / (c + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    ),
    piv AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN term = 'spark' THEN w END), 0.0) AS w1,
             coalesce(max(CASE WHEN term = 'join' THEN w END), 0.0) AS w2,
             coalesce(max(CASE WHEN term = 'hash' THEN w END), 0.0) AS w3
      FROM w GROUP BY 1
    )
    SELECT doc_id, round(0.0 + w1 + w2 + w3, 4) AS score
    FROM piv ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def bm25_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = ranking.bm25(docs, "doc_id", "text", _BM25_TERMS)
    return (
        scored.select(
            F.col("id").alias("doc_id"), F.round("score", 4).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


# --- batch sessionization --------------------------------------------------


@query(
    "events_sessionize",
    """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    b AS (
      SELECT user_id, us, event_id,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM b
    ),
    per AS (SELECT user_id, session_id, count(*) AS n FROM s GROUP BY 1, 2)
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(max(n) AS BIGINT) AS longest,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM per GROUP BY 1 ORDER BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 30-minute gap sessions; event_id breaks timestamp ties so the
    # per-user ordering is total. session_id is a 1-based running counter,
    # so max(session_id) IS the session count — no count(distinct).
    ev = load(spark, sf_dir, "events")
    sess = sessions.sessionize(ev, "user_id", "ts", 1800, ["event_id"])
    per = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n"))
    return (
        per.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.max("n").alias("longest"),
            F.sum("n").alias("n_events"),
        )
        .orderBy("user_id")
    )


# --- percentile profile ----------------------------------------------------


@query(
    "events_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact interpolated percentiles (Spark `percentile` == DuckDB
    # `quantile_cont`, both type-7). At 100 TB swap for approx_percentile
    # with a stated error bound — kept exact here because the oracle gate
    # hashes values.
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


# --- CDC merge -------------------------------------------------------------


@query(
    "merge_upsert_orders",
    """
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    -- additive price changes, not multiplicative: x * 1.1 lands on .xx5
    -- half-cent boundaries where Spark's decimal-string HALF_UP round and
    -- DuckDB's float round disagree; adding a 2-decimal constant keeps the
    -- value 2-decimal with no rounding step at all.
    upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice
            FROM base WHERE o_orderkey % 7 = 0),
    ins AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                   'N' AS o_orderstatus,
                   o_totalprice + 0.25 AS o_totalprice
            FROM base WHERE o_orderkey % 13 = 0),
    del AS (SELECT o_orderkey FROM base
            WHERE o_orderkey % 31 = 0 AND o_orderkey % 7 <> 0),
    srckeys AS (SELECT o_orderkey FROM upd
                UNION ALL SELECT o_orderkey FROM ins
                UNION ALL SELECT o_orderkey FROM del),
    kept AS (SELECT * FROM base
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM srckeys)),
    merged AS (SELECT * FROM kept
               UNION ALL SELECT * FROM upd
               UNION ALL SELECT * FROM ins)
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY 1 ORDER BY o_orderstatus
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One CDC batch against orders: updates (keys %7), inserts (new keys),
    # deletes (keys %31 that aren't also updated — the changeset is unique
    # per key, the CDC contract merge_upsert documents). The summary
    # aggregate covers every merged row, so a wrong anti-join or dropped
    # delete flips the hash.
    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    upd = base.filter(k % 7 == 0).select(
        k.alias("o_orderkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit(False).alias("_deleted"),
    )
    ins = base.filter(k % 13 == 0).select(
        (k + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.col("o_totalprice") + F.lit(0.25)).alias("o_totalprice"),
        F.lit(False).alias("_deleted"),
    )
    dels = base.filter((k % 31 == 0) & (k % 7 != 0)).select(
        k.alias("o_orderkey"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(True).alias("_deleted"),
    )
    src = upd.unionByName(ins).unionByName(dels)
    merged = maintenance.merge_upsert(base, src, ["o_orderkey"], "_deleted")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "refsql_merge_upsert",
    """
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    upd AS (SELECT o_orderkey, 'U' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice
            FROM base WHERE o_orderkey % 7 = 0),
    ins AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                   'N' AS o_orderstatus,
                   o_totalprice + 0.25 AS o_totalprice
            FROM base WHERE o_orderkey % 13 = 0),
    del AS (SELECT o_orderkey FROM base
            WHERE o_orderkey % 31 = 0 AND o_orderkey % 7 <> 0),
    srckeys AS (SELECT o_orderkey FROM upd
                UNION ALL SELECT o_orderkey FROM ins
                UNION ALL SELECT o_orderkey FROM del),
    kept AS (SELECT * FROM base
             WHERE o_orderkey NOT IN (SELECT o_orderkey FROM srckeys)),
    merged AS (SELECT * FROM kept
               UNION ALL SELECT * FROM upd
               UNION ALL SELECT * FROM ins)
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY 1 ORDER BY o_orderstatus
    """,
)
def refsql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGE INTO through the DIALECT (round-7): the same CDC batch as
    # merge_upsert_orders, but every step is a SQL statement against
    # copy-on-write engine storage — CTAS builds the changeset tables
    # (set-op + expression projections through the parser), one MERGE
    # upserts (UPDATE SET * + INSERT *), a second MERGE deletes from a
    # key-only source, and the final aggregate reads the POST-MERGE table
    # through the dialect. The oracle replays the whole batch relationally
    # over the raw parquet — a wrong anti-join, a dropped WHEN clause, or
    # a row lost in the staged-overwrite swap flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_merge_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_raw")
    e.ref_sql(
        "CREATE TABLE mo AS SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders_raw"
    )
    e.ref_sql(
        "CREATE TABLE chg AS "
        "SELECT o_orderkey, 'U' AS o_orderstatus, "
        "o_totalprice + 1000.0 AS o_totalprice "
        "FROM mo WHERE o_orderkey % 7 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS o_orderstatus, "
        "o_totalprice + 0.25 AS o_totalprice "
        "FROM mo WHERE o_orderkey % 13 = 0"
    )
    e.ref_sql(
        "CREATE TABLE dl AS SELECT o_orderkey FROM mo "
        "WHERE o_orderkey % 31 = 0 AND o_orderkey % 7 <> 0"
    )
    e.ref_sql(
        "MERGE INTO mo USING chg ON mo.o_orderkey = chg.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    e.ref_sql(
        "MERGE INTO mo USING dl ON mo.o_orderkey = dl.o_orderkey "
        "WHEN MATCHED THEN DELETE"
    )
    return e.ref_sql(
        "WITH a AS (SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(o_totalprice) AS t FROM mo GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, n, ROUND(t, 2) AS total FROM a "
        "ORDER BY o_orderstatus"
    )


@query(
    "refsql_merge_source_delete",
    """
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    upd AS (SELECT o_orderkey, o_orderstatus,
                   o_totalprice + 10.0 AS o_totalprice
            FROM base WHERE o_orderkey % 5 = 0),
    ins AS (SELECT o_orderkey + 20000000 AS o_orderkey,
                   'N' AS o_orderstatus,
                   o_totalprice + 0.5 AS o_totalprice
            FROM base WHERE o_orderkey % 11 = 0),
    kept AS (SELECT * FROM base
             WHERE o_orderkey % 5 <> 0 AND o_orderstatus <> 'F'),
    merged AS (SELECT * FROM kept
               UNION ALL SELECT * FROM upd
               UNION ALL SELECT * FROM ins)
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY 1 ORDER BY o_orderstatus
    """,
)
def refsql_merge_source_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The FULL Delta-style CDC triad in ONE dialect MERGE (round-8):
    # snapshot-sync semantics — the feed carries updates (key % 5 = 0,
    # price bumped) and fresh rows (key % 11 = 0, shifted key); matched
    # target rows update, unmatched feed rows insert, and target rows the
    # feed no longer carries die IF they pass the BY SOURCE predicate
    # (o_orderstatus = 'F' — finished orders are purged, open ones
    # survive the sync). The oracle replays the whole batch relationally;
    # a wrong arm, a dropped predicate, or a marker-join bug flips the
    # hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_mrgsd_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_raw")
    e.ref_sql(
        "CREATE TABLE mo AS SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders_raw"
    )
    e.ref_sql(
        "CREATE TABLE feed AS "
        "SELECT o_orderkey, o_orderstatus, "
        "o_totalprice + 10.0 AS o_totalprice "
        "FROM mo WHERE o_orderkey % 5 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 20000000 AS o_orderkey, 'N' AS o_orderstatus, "
        "o_totalprice + 0.5 AS o_totalprice "
        "FROM mo WHERE o_orderkey % 11 = 0"
    )
    e.ref_sql(
        "MERGE INTO mo USING feed ON mo.o_orderkey = feed.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY TARGET THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND o_orderstatus = 'F' THEN DELETE"
    )
    return e.ref_sql(
        "WITH a AS (SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(o_totalprice) AS t FROM mo GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, n, ROUND(t, 2) AS total FROM a "
        "ORDER BY o_orderstatus"
    )


@query(
    "refsql_update_from",
    """
    WITH uo AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                FROM orders),
    seg AS (SELECT c_custkey, substr(c_mktsegment, 1, 1) AS tag,
                   c_acctbal * 0.1 AS boost
            FROM customer WHERE c_custkey % 3 = 0),
    upd AS (SELECT o.o_orderkey,
                   CASE WHEN s.c_custkey IS NOT NULL
                             AND o.o_totalprice < 150000.0
                        THEN s.tag ELSE o.o_orderstatus
                   END AS o_orderstatus,
                   CASE WHEN s.c_custkey IS NOT NULL
                             AND o.o_totalprice < 150000.0
                        THEN o.o_totalprice + s.boost ELSE o.o_totalprice
                   END AS o_totalprice
            FROM uo o LEFT JOIN seg s ON o.o_custkey = s.c_custkey)
    SELECT o_orderstatus, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM upd GROUP BY 1 ORDER BY o_orderstatus
    """,
)
def refsql_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UPDATE ... FROM through the DIALECT (round-13): the correlated
    # per-row SET from a second table — the re-labeling shape curation
    # pipelines hit constantly (the r12 verdict's top DML gap). One
    # dialect statement re-tags every matching order with its customer's
    # market-segment initial and boosts the price by 10% of the account
    # balance; the join + SET compile to ONE left equi-join + the
    # copy-on-write rewrite (never a per-row subquery), the source is
    # unique on c_custkey by construction (the determinism guard), and
    # the residual conjunct filters matching on the TARGET side. The
    # oracle replays the update relationally as a LEFT JOIN + CASE — a
    # mis-scoped SET, a dropped unmatched row, or a double-applied
    # residual flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_updf_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_raw")
    e.ingest_parquet(f"{sf_dir}/customer.parquet", "customer_raw")
    e.ref_sql(
        "CREATE TABLE uo AS SELECT o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice FROM orders_raw"
    )
    e.ref_sql(
        "CREATE TABLE seg AS SELECT c_custkey, "
        "substr(c_mktsegment, 1, 1) AS tag, c_acctbal * 0.1 AS boost "
        "FROM customer_raw WHERE c_custkey % 3 = 0"
    )
    e.ref_sql(
        "UPDATE uo SET o_orderstatus = seg.tag, "
        "o_totalprice = o_totalprice + seg.boost FROM seg "
        "WHERE uo.o_custkey = seg.c_custkey AND uo.o_totalprice < 150000.0"
    )
    return e.ref_sql(
        "WITH a AS (SELECT o_orderstatus, COUNT(*) AS n, "
        "SUM(o_totalprice) AS t FROM uo GROUP BY o_orderstatus) "
        "SELECT o_orderstatus, n, ROUND(t, 2) AS total FROM a "
        "ORDER BY o_orderstatus"
    )


@query(
    "zorder_optimized_scan",
    """
    SELECT event_id, user_id, event_type FROM events
    WHERE user_id BETWEEN 10 AND 20
    ORDER BY event_id
    """,
)
def zorder_optimized_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Maintenance round-trip through the SQL dialect: ingest events into a
    # throwaway engine db, run `OPTIMIZE ... ZORDER BY (user_id, event_id)`
    # (refsql → Engine.optimize → Morton-key range rewrite), then answer a
    # range filter THROUGH THE DIALECT over the rewritten files. Z-order is
    # layout-only, so the oracle is the same query over the raw table — any
    # row lost/duplicated/corrupted by the rewrite flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    # Deterministic scratch root per sf_dir, replaced (not accumulated) on
    # every run — repeated gate rounds must not leak a table copy each.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_zorder_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/events.parquet", "events_z")
    msg = e.ref_sql("OPTIMIZE events_z ZORDER BY (user_id, event_id)")
    assert msg.startswith("optimized 'events_z'"), msg
    return e.ref_sql(
        "SELECT event_id, user_id, event_type FROM events_z "
        "WHERE user_id BETWEEN 10 AND 20 ORDER BY event_id"
    )


@query(
    "timetravel_version_as_of",
    """
    SELECT o_orderstatus,
           count(*) AS count,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def timetravel_version_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-travel round-trip through the SQL dialect: ingest orders into a
    # throwaway engine db with snapshot retention, mutate it (UPDATE retires
    # v0, DELETE retires v1), VACUUM with KEEP >= snapshot count (must be a
    # no-op — the negative-slice regression guard through the dialect), then
    # aggregate THROUGH `VERSION AS OF 0`. v0 is the pre-mutation table, so
    # the oracle is the same aggregate over the raw orders parquet — any
    # snapshot lost, vacuumed wrongly, or rewritten corruptly flips the
    # hash. min/max pin the price column exactly (order-independent, no
    # float-sum nondeterminism through the dialect's bare aggregates).
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_timetravel_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root, keep_snapshots=4)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_tt")
    e.ref_sql("UPDATE orders_tt SET o_orderstatus = 'X' WHERE o_orderstatus = 'O'")
    e.ref_sql("DELETE FROM orders_tt WHERE o_orderstatus = 'F'")
    msg = e.ref_sql("VACUUM orders_tt KEEP 4")
    assert msg == "vacuumed 'orders_tt': removed nothing", msg
    return e.ref_sql(
        "SELECT o_orderstatus, COUNT(*), MIN(o_totalprice), MAX(o_totalprice) "
        "FROM orders_tt VERSION AS OF 0 "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@query(
    "events_activity_islands",
    """
    WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + 900000000 AS e FROM events),
    m AS (SELECT user_id, s, e,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS pme
          FROM iv),
    isl AS (SELECT user_id, s, e,
                   sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island
            FROM m),
    g AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
          FROM isl GROUP BY 1, 2)
    SELECT user_id, count(*) AS n_islands,
           CAST(sum(i_e - i_s) // 1000000 AS BIGINT) AS coverage_sec,
           CAST(max(i_e - i_s) // 1000000 AS BIGINT) AS max_island_sec
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands coverage: each event opens a 15-minute activity
    # interval; overlapping/touching intervals merge per user
    # (operators.intervals), and the per-user summary (island count, total
    # covered seconds with overlaps counted once, longest island) is the
    # gate output. All math on microsecond integers with integer DIV — no
    # floats anywhere, so the oracle (same two-window formulation in
    # DuckDB) is exact.
    from ..operators.intervals import coverage_stats

    events = load(spark, sf_dir, "events")
    iv = events.select(
        "user_id",
        F.col("ts").alias("ivs"),
        (F.col("ts") + F.expr("INTERVAL 900 SECONDS")).alias("ive"),
    )
    return coverage_stats(iv, ["user_id"], "ivs", "ive").orderBy("user_id")


@query(
    "jsonl_roundtrip_ingest",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source ORDER BY source
    """,
)
def jsonl_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON Lines source/sink round-trip: ingest documents.parquet into a
    # scratch engine, export it through the dialect (`COPY ... FORMAT
    # jsonl`), re-ingest the JSONL with schema inference, and aggregate the
    # RE-INGESTED table. The oracle aggregates the raw parquet — so any
    # mangling in the JSON escape/unescape of text (quotes, newlines,
    # unicode), a dropped null field, or a mis-inferred numeric type
    # changes sum(length(text))/total_chars and flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_jsonl_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/documents.parquet", "docs_src")
    out = os.path.join(root, "export_jsonl")
    e.ref_sql(f"COPY docs_src TO '{out}' FORMAT jsonl")
    e.ingest(out, "docs_rt", "jsonl")
    return (
        e.table("docs_rt")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


@query(
    "mv_incremental_refresh",
    """
    WITH base AS (SELECT * FROM orders
                  UNION ALL SELECT * FROM orders WHERE o_orderkey < 1000)
    SELECT o_orderstatus, count(*) AS count,
           CAST(round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                                AS DOUBLE) AS DECIMAL(20,9)), 2) AS DOUBLE)
             AS total,
           min(o_totalprice) AS min_o_totalprice,
           max(o_totalprice) AS max_o_totalprice,
           CAST(round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                                AS DOUBLE) / count(o_totalprice)
                           AS DECIMAL(20,9)), 4) AS DOUBLE) AS avg_p
    FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental materialized-view maintenance END-TO-END through the
    # dialect: ingest orders, CREATE MATERIALIZED VIEW grouped by status,
    # append a deterministic slice of the base (new parquet files only),
    # REFRESH — which must take the INCREMENTAL path (asserted) and merge
    # the delta's partial aggregates into the stored state — then read the
    # finalized view. The oracle aggregates base ∪ slice directly with the
    # same DECIMAL(38,6) sums the state carries, so a wrong merge, a
    # double-counted file, or a missed group flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_mv_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_mvb")
    e.ref_sql(
        "CREATE MATERIALIZED VIEW orders_mv AS "
        "SELECT o_orderstatus, COUNT(*), SUM(o_totalprice) AS total, "
        "MIN(o_totalprice), MAX(o_totalprice), AVG(o_totalprice) AS avg_p "
        "FROM orders_mvb GROUP BY o_orderstatus"
    )
    extra = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") < 1000
    )
    e.append_df("orders_mvb", extra)
    msg = e.ref_sql("REFRESH MATERIALIZED VIEW orders_mv")
    assert "incremental" in msg, msg
    snap2 = lambda c, a: (  # noqa: E731 — decimal-snap round, oracle-mirrored
        F.round(F.col(c).cast("decimal(20,9)"), 2).cast("double").alias(a)
    )
    return (
        e.table("orders_mv")
        .select(
            "o_orderstatus",
            "count",
            snap2("total", "total"),
            F.col("min_o_totalprice"),
            F.col("max_o_totalprice"),
            F.round(F.col("avg_p").cast("decimal(20,9)"), 4)
            .cast("double")
            .alias("avg_p"),
        )
        .orderBy("o_orderstatus")
    )


# --- sequence packing ------------------------------------------------------


# NOTE (round-12): the `corpus_pack_sequences` workload (per-shard packing
# SUMMARY) was retired one-for-one for `refsql_lateral_topk` under the
# registry freeze (r11 verdict #3(c) — it was one of the two verdict-named
# redundancy candidates). The packing operator itself stays fully covered:
# `corpus_pack_split_spans` below replays every span boundary against the
# oracle, and `operators.packing.pack_sequences` keeps its hypothesis
# property test (`test_property.py`) and boundary pytest.


# --- domain mixing ---------------------------------------------------------

_MIX_HIGH = ("src0", "src1", "src2")  # keep 75%
_MIX_MID = ("src3", "src4", "src5", "src6", "src7")  # keep 50%
# everything else: keep 25%


@query(
    "corpus_domain_mix",
    """
    SELECT source, count(*) AS n_total,
           CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                              CASE WHEN source IN ('src0', 'src1', 'src2')
                                     THEN 'c0'
                                   WHEN source IN ('src3', 'src4', 'src5',
                                                   'src6', 'src7')
                                     THEN '80'
                                   ELSE '40' END
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY source ORDER BY source
    """,
)
def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Target-mixture downsampling: per-source keep rates (75/50/25% via md5
    # bucket thresholds c0/80/40) applied as a row-local expression — the
    # mixture is reweighted in the scan stage with zero data movement, and
    # re-runs (or another engine) keep byte-identical document sets. The
    # per-source kept/total counts pin every row's assignment.
    from .scale import _md5_bucket

    docs = load(spark, sf_dir, "documents")
    thr = (
        F.when(F.col("source").isin(*_MIX_HIGH), F.lit("c0"))
        .when(F.col("source").isin(*_MIX_MID), F.lit("80"))
        .otherwise(F.lit("40"))
    )
    kept = (_md5_bucket(F.col("doc_id")) < thr).cast("long")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_total"), F.sum(kept).alias("n_kept"))
        .orderBy("source")
    )


@query(
    "corpus_pack_split_spans",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(regexp_extract_all(text, '{WORDISH}')) AS n_tok
               FROM documents),
    c AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source
                              ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tok AS cum
      FROM t
    ),
    sp AS (
      SELECT doc_id, source, n_tok, cum,
             unnest(range(CAST(cum // 256 AS BIGINT),
                          CAST((cum + n_tok - 1) // 256 + 1 AS BIGINT)))
               AS seq_id
      FROM c WHERE n_tok > 0
    )
    SELECT doc_id, source, CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(0, seq_id * 256 - cum) AS BIGINT) AS tok_start,
           CAST(least(n_tok, seq_id * 256 + 256 - cum)
                - greatest(0, seq_id * 256 - cum) AS BIGINT) AS n_span_tokens
    FROM sp ORDER BY source, doc_id, seq_id
    """,
)
def corpus_pack_split_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full-fidelity packing (round-7): per-(doc, sequence) token spans with
    # documents SPLIT across 256-token context boundaries — one cumulative
    # window per shard, integer-exact arithmetic, so the oracle replays
    # every span boundary. A wrong exclusive-cumsum, an off-by-one at a
    # boundary, or a dropped zero-token doc flips the hash.
    from ..operators.packing import pack_with_splits
    from ..operators.text import word_token_count

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", word_token_count("text").alias("n_tok")
    )
    spans = pack_with_splits(docs, "doc_id", "n_tok", "source", 256)
    return spans.select(
        "doc_id", "source", "seq_id", "tok_start", "n_span_tokens"
    ).orderBy("source", "doc_id", "seq_id")


@query(
    "corpus_temperature_mix",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    t AS (SELECT sum(n) AS total_n, sum(pow(n, 0.5)) AS total_w FROM c),
    r AS (
      SELECT source, n,
             least(1.0, pow(n, 0.5) / total_w * (total_n * 0.5) / n) AS rate
      FROM c, t
    ),
    k AS (
      SELECT d.source,
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10000 AS u,
             CAST(round(r.rate * 10000, 0) AS INT) AS thr
      FROM documents d JOIN r ON d.source = r.source
    )
    SELECT source, count(*) AS n_total,
           CAST(count(*) FILTER (WHERE u < thr) AS BIGINT) AS n_kept
    FROM k GROUP BY source ORDER BY source
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Temperature sampling (round-7): keep rates computed FROM the corpus
    # (share_i ∝ n_i^0.5, half the corpus kept) instead of hand-set
    # thresholds — tau < 1 flattens the source distribution, the
    # multilingual-pretraining mixing rule. The whole pipeline (counts →
    # pow/share → rounded integer threshold → md5-bucket keep) replays in
    # the oracle, so every row's keep/drop assignment is value-checked.
    from ..operators.packing import temperature_mix

    docs = load(spark, sf_dir, "documents")
    marked = temperature_mix(
        docs, "source", "doc_id", tau=0.5, target_frac=0.5, mark=True
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("_mix_keep").cast("bigint")).alias("n_kept"),
        )
        .orderBy("source")
    )


# --- token-budget selection ------------------------------------------------


@query(
    "corpus_token_budget_select",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(regexp_extract_all(text, '{WORDISH}')) AS n_tok
               FROM documents),
    r AS (
      SELECT source, n_tok,
             sum(n_tok) OVER (PARTITION BY source
                              ORDER BY n_tok DESC, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tok AS start
      FROM t
    )
    SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS kept_tokens
    FROM r WHERE start < 2000 GROUP BY source ORDER BY source
    """,
)
def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Greedy longest-first selection until each source holds ~2000 tokens:
    # integer sort keys (token count desc, doc_id tiebreak) so the prefix
    # is identical across engines — no float ranking involved.
    from ..operators.packing import token_budget_filter
    from ..operators.text import word_token_count

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", word_token_count("text").alias("n_tok")
    )
    kept = token_budget_filter(
        toks,
        "n_tok",
        "source",
        2000,
        order_cols=[F.col("n_tok").desc(), F.col("doc_id")],
    )
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("kept_tokens"))
        .orderBy("source")
    )


@query(
    "orc_roundtrip_ingest",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS count,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
             AS sum_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def orc_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORC source/sink round-trip (round 6): ingest lineitem.parquet,
    # export it through the dialect (`COPY ... FORMAT orc` — Spark's
    # native vectorized ORC writer), re-ingest the ORC natively, and
    # aggregate the RE-INGESTED table. The oracle aggregates the raw
    # parquet — a type mangled by the ORC round-trip (decimal scale,
    # timestamp zone, nullability) shifts the DECIMAL sums or counts and
    # flips the hash. DuckDB cannot read ORC, so the round-trip-vs-source
    # comparison IS the oracle strategy (same pattern as
    # jsonl_roundtrip_ingest).
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_orc_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/lineitem.parquet", "li_src")
    out = os.path.join(root, "export_orc")
    e.ref_sql(f"COPY li_src TO '{out}' FORMAT orc")
    e.ingest(out, "li_rt", "orc")
    return (
        e.table("li_rt")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.col("l_quantity").cast("decimal(20,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "mv_hll_distinct_refresh",
    """
    WITH base AS (SELECT * FROM orders
                  UNION ALL SELECT * FROM orders WHERE o_orderkey < 1000),
    h AS (
      SELECT o_orderstatus,
             CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM base
    ),
    wb AS (SELECT o_orderstatus, h % 256 AS bucket, h // 256 AS w FROM h),
    r AS (
      SELECT o_orderstatus, bucket,
             MAX(53 - CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END) AS rho
      FROM wb GROUP BY 1, 2
    ),
    z AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS INT) AS v_obs,
             SUM(1::BIGINT << (53 - rho)) AS zs
      FROM r GROUP BY 1
    ),
    e AS (
      SELECT o_orderstatus, v_obs, 256 - v_obs AS v_zero,
             0.7213/(1 + 1.079/256) * 256 * 256 /
               (CAST(zs + (256 - v_obs) * (1::BIGINT << 53) AS DOUBLE)
                / (1::BIGINT << 53)) AS e_raw
      FROM z
    ),
    n AS (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY 1)
    SELECT e.o_orderstatus, n.n,
           round(CASE WHEN e_raw <= 640.0 AND v_zero > 0
                 THEN 256.0 * ln(256.0 / v_zero) ELSE e_raw END, 2) + 0.0
             AS cust_est
    FROM e JOIN n ON e.o_orderstatus = n.o_orderstatus
    """,
)
def mv_hll_distinct_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Approximate-distinct materialized view, incrementally maintained
    # (round 8): CREATE with APPROX_COUNT_DISTINCT state (HLL registers,
    # p=8 — the ONE distinct representation that maintains incrementally,
    # since exact distinct state grows with every key seen), append a
    # slice as new parquet files, REFRESH — which must take the
    # incremental path (asserted) and ELEMENTWISE-MAX-merge the delta's
    # registers — then read the finalized estimates. The oracle replays
    # the register math over base ∪ slice directly, so a wrong merge, a
    # double-counted file (registers are max-idempotent but counts are
    # not), or a missed group flips the hash.
    import hashlib
    import os
    import shutil
    import tempfile

    from .. import Engine

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"sparkdb_mvhll_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    e = Engine(spark, root)
    e.ingest_parquet(f"{sf_dir}/orders.parquet", "orders_hllb")
    e.ref_sql(
        "CREATE MATERIALIZED VIEW orders_hll_mv AS "
        "SELECT o_orderstatus, COUNT(*) AS n, "
        "APPROX_COUNT_DISTINCT(o_custkey) AS cust_est "
        "FROM orders_hllb GROUP BY o_orderstatus"
    )
    extra = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") < 1000
    )
    e.append_df("orders_hllb", extra)
    msg = e.ref_sql("REFRESH MATERIALIZED VIEW orders_hll_mv")
    assert "incremental" in msg, msg
    return e.table("orders_hll_mv").select("o_orderstatus", "n", "cust_est")


@query(
    "corpus_pack_fill_stats",
    f"""
    WITH t AS (SELECT doc_id, source,
                      len(regexp_extract_all(text, '{WORDISH}')) AS n_tok
               FROM documents),
    p AS (
      SELECT source, n_tok,
             ((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n_tok) // 512)
               AS seq_id
      FROM t
    ),
    q AS (
      SELECT source, seq_id, CAST(sum(n_tok) AS BIGINT) AS seq_tok
      FROM p GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(max(seq_tok) AS BIGINT) AS max_fill,
           CAST(min(seq_tok) AS BIGINT) AS min_fill,
           CAST(count(*) FILTER (WHERE seq_tok > 512) AS BIGINT)
             AS n_overflow
    FROM q GROUP BY source ORDER BY source
    """,
)
def corpus_pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9: packing-quality diagnostics — per-sequence token fill
    # after the greedy doc-order packing (corpus_pack_sequences). A doc
    # is assigned wholly to the sequence its running sum starts in, so a
    # sequence can OVERFLOW 512 tokens; n_overflow is exactly the work
    # the split-span pass (pack_split_spans) must fix, and min/max fill
    # bound the padding waste a trainer would pay. All-integer outputs —
    # the whole assignment replays exactly on both engines.
    from ..operators.packing import pack_sequences
    from ..operators.text import word_token_count

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", word_token_count("text").alias("n_tok")
    )
    packed = pack_sequences(toks, "doc_id", "n_tok", "source", 512)
    per_seq = packed.groupBy("source", "seq_id").agg(
        F.sum("n_tok").alias("seq_tok")
    )
    return (
        per_seq.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.max("seq_tok").alias("max_fill"),
            F.min("seq_tok").alias("min_fill"),
            F.count(F.when(F.col("seq_tok") > 512, 1)).alias("n_overflow"),
        )
        .orderBy("source")
    )
