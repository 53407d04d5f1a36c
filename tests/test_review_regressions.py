"""Regression tests for the round-1 code-review findings — each test pins
the fixed behavior with the exact failure scenario from the review."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.operators import (
    dedup,
    joins,
    skew,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans import nl
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    tokenize,
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "db"))


def test_update_where_references_set_column(engine):
    # WHERE must evaluate against PRE-update values for every SET column.
    engine.create_table("t", [("x", "INT"), ("y", "INT")])
    engine.insert_rows("t", [{"x": 10, "y": 5}, {"x": 1, "y": 5}])
    n = engine.update("t", {"x": 0, "y": 1}, "x > 5")
    assert n == 1
    rows = {(r.x, r.y) for r in engine.table("t").collect()}
    assert rows == {(0, 1), (1, 5)}  # matched row got BOTH updates


def test_delete_null_predicate_keeps_row(engine):
    engine.create_table("t", [("a", "INT")])
    engine.insert_rows("t", [{"a": 10}, {"a": None}, {"a": 1}])
    n = engine.delete("t", "a > 5")
    assert n == 1  # only a=10; the NULL row is NOT deleted
    remaining = {r.a for r in engine.table("t").collect()}
    assert remaining == {None, 1}


def test_update_null_predicate_not_matched(engine):
    engine.create_table("t", [("a", "INT"), ("b", "TEXT")])
    engine.insert_rows("t", [{"a": None, "b": "keep"}, {"a": 9, "b": "hit"}])
    n = engine.update("t", {"b": "updated"}, "a > 5")
    assert n == 1
    got = {r.a: r.b for r in engine.table("t").collect()}
    assert got == {None: "keep", 9: "updated"}


def test_exact_dedup_keeps_one_null_key_row(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x")], ["id", "k"]
    )
    out = dedup.exact_dedup(df, ["k"], "id")
    kept = sorted(r.id for r in out.collect())
    assert kept == [1, 3]  # one survivor per group, NULL group included


def test_jaccard_doc_freq_cap_consistent_sizes(spark):
    # With a df cap, jaccard must be computed over the CAPPED universe:
    # docs identical except for stop-shingles should still score 1.0 on
    # their surviving rare shingles.
    rows = [
        (1, "common common common rare alpha beta"),
        (2, "common common common rare alpha beta"),
        (3, "common common common something else entirely"),
        (4, "common common common other words here"),
        (5, "common common common more filler text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(
            df, "doc_id", "text", n=3, max_doc_freq=2
        ).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)


def test_asof_join_null_payload_not_stitched(spark):
    left = spark.createDataFrame([(1, 30.0, "l")], ["k", "ts", "lv"]).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "lv"
    )
    right = spark.createDataFrame(
        [(1, 10.0, 1, 2), (1, 20.0, 5, None)], ["k", "ts", "a", "b"]
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "a", "b")
    out = joins.asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", right_payload=["a", "b"]
    ).first()
    # must match the t=20 row atomically: (a=5, b=NULL), never (a=5, b=2)
    assert out.a == 5 and out.b is None


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1, "x")], ["k", "v"])
    with pytest.raises(ValueError):
        skew.salted_join(df, df.withColumnRenamed("v", "w"), "k", how="full")


def test_tokenizer_handles_no_space_neq():
    assert tokenize("SELECT * FROM t WHERE a!=5") == [
        "SELECT", "*", "FROM", "t", "WHERE", "a", "!=", "5",
    ]


def test_refsql_no_space_neq_executes(engine):
    engine.create_table("t", [("a", "INT")])
    engine.insert_rows("t", [{"a": 5}, {"a": 6}])
    rows = engine.ref_sql("SELECT a FROM t WHERE a!=5").collect()
    assert [r.a for r in rows] == [6]


def test_refsql_null_literal(engine):
    engine.create_table("t", [("id", "INT"), ("name", "TEXT")])
    engine.ref_sql("INSERT INTO t (id, name) VALUES (1, NULL)")
    row = engine.table("t").first()
    assert row.name is None  # NULL, not the string 'NULL'
    engine.ref_sql("UPDATE t SET name = 'x' WHERE id = 1")
    engine.ref_sql("UPDATE t SET name = NULL WHERE id = 1")
    assert engine.table("t").first().name is None


def test_engine_samples_covers_ingested_string_columns(spark, tmp_path, sf_dir):
    e = Engine(spark, str(tmp_path / "db2"))
    e.ingest_parquet(f"{sf_dir}/nation.parquet", "nation")
    samples = nl.engine_samples(e, "nation")
    assert "n_name" in samples and len(samples["n_name"]) > 0


# --- second review pass fixes ---


def test_drop_removes_snapshots(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "tt2"), keep_snapshots=2)
    e.create_table("t", [("a", "INT")])
    e.insert_rows("t", [{"a": 1}])
    e.update("t", {"a": 2})
    assert e.store.versions("t") == [0]
    e.drop_table("t")
    e.create_table("t", [("b", "TEXT")])  # different schema, same name
    assert e.store.versions("t") == []  # no time travel into the dead table
    with pytest.raises(KeyError):
        e.table_at("t", 0)


def test_tokenizer_bang_inside_bareword():
    assert tokenize("INSERT INTO t (name) VALUES (wow!)") == [
        "INSERT", "INTO", "t", "(", "name", ")", "VALUES", "(", "wow!", ")",
    ]
    assert tokenize("a!=5") == ["a", "!=", "5"]


def test_salted_join_accepts_spark_spellings(spark):
    l = spark.createDataFrame([(1, "x")], ["k", "v"])
    r = spark.createDataFrame([(1, "y")], ["k", "w"])
    assert skew.salted_join(l, r, "k", how="leftouter").count() == 1


def test_update_preserves_user_column_named_match(engine):
    engine.create_table("t", [("__match", "TEXT"), ("x", "INT")])
    engine.insert_rows("t", [{"__match": "keepme", "x": 1}])
    engine.update("t", {"x": 2})
    row = engine.table("t").first()
    assert row["__match"] == "keepme" and row.x == 2


def test_failed_ingest_leaves_no_phantom_table(engine):
    with pytest.raises(Exception):
        engine.ingest_parquet("/nonexistent/path.parquet", "ghost")
    assert "ghost" not in engine.show_tables()
    engine.sql("SELECT 1")  # register_views must not choke


def test_default_shuffle_partitions_honors_cpus(monkeypatch):
    # Round-2 review: `os.cpu_count() or 8 if cpus == "*" else int(cpus)`
    # parsed as `os.cpu_count() or (...)`, so SPARK_GRAFT_CPUS never drove
    # shuffle-partition sizing. Pin the fixed precedence.
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        session,
    )

    assert session._default_shuffle_partitions("16") == 16
    assert session._default_shuffle_partitions("4") == 8    # clamped up
    assert session._default_shuffle_partitions("999") == 64  # clamped down
    monkeypatch.setattr(session.os, "cpu_count", lambda: 12)
    assert session._default_shuffle_partitions("*") == 12
    monkeypatch.setattr(session.os, "cpu_count", lambda: None)
    assert session._default_shuffle_partitions("*") == 8


def test_ordered_queries_raises_on_unknown_priority(monkeypatch):
    # assert → ValueError so `python -O` can't strip the gate-window check.
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        workloads,
    )

    monkeypatch.setattr(
        workloads, "PRIORITY", workloads.PRIORITY + ["no_such_query"]
    )
    with pytest.raises(ValueError, match="no_such_query"):
        workloads.ordered_queries()


# --- round-3 code-review fixes ---------------------------------------------


def test_render_ref_result_handles_all_statement_outcomes():
    # NL can generate DML: ref_sql then returns an int, which used to
    # crash format_result AFTER the mutation committed. (Round 4 moved the
    # dispatch to the shared functions.format.render_statement_result used
    # by both the web API and the REPL.)
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.functions.format import (
        render_statement_result,
    )

    assert render_statement_result(None) == "OK"
    assert render_statement_result(3) == "3 row(s) affected"
    assert render_statement_result(["a", "b"]) == "a\nb"
    assert render_statement_result("optimized 't': compacted to 2 file(s)") == (
        "optimized 't': compacted to 2 file(s)"
    )


def test_table_from_sql_word_boundaries():
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server import (
        _table_from_sql,
    )

    # 'order' is a substring of 'orders' — FROM-clause match must win.
    assert _table_from_sql("SELECT * FROM orders", ["order", "orders"]) == "orders"
    assert _table_from_sql("SELECT * FROM orders", ["orders", "order"]) == "orders"
    assert _table_from_sql("DELETE FROM t2 WHERE x=1", ["t", "t2"]) == "t2"
    assert _table_from_sql("no tables here", ["t"]) is None


def test_conversation_store_unique_ids_and_atomic_save(tmp_path):
    import json as _json
    import os as _os

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server import (
        ConversationStore,
    )

    store = ConversationStore(str(tmp_path))
    ids = {store.new()["id"] for _ in range(20)}
    assert len(ids) == 20  # same-millisecond creates must not collide
    # atomic save: no .tmp residue, file parses
    assert not [f for f in _os.listdir(store.dir) if f.endswith(".tmp")]
    # non-dict JSON: load raises ValueError, listing skips it
    bad = _os.path.join(store.dir, "badfile.json")
    with open(bad, "w") as f:
        _json.dump([], f)
    with pytest.raises(ValueError):
        store.load("badfile")
    summaries = store.list_summaries()
    assert len(summaries) == 20  # corrupt file skipped, not a crash


def test_zorder_key_rejects_strings_accepts_timestamps(spark):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.operators import (
        maintenance,
    )

    df = spark.createDataFrame([("us", 1)], ["region", "x"])
    with pytest.raises(ValueError, match="non-orderable-numeric"):
        maintenance.zorder_key(df, ["region", "x"])
    with pytest.raises(ValueError, match="no such column"):
        maintenance.zorder_key(df, ["nope"])
    # timestamps and dates convert (epoch micros / days), order-preserving
    # — the README-documented optimize call z-orders on l_shipdate.
    ts = spark.createDataFrame(
        [(i, i) for i in range(4)], ["secs", "x"]
    ).select(
        F.timestamp_seconds("secs").alias("ts"),
        F.to_date(F.timestamp_seconds(F.col("secs") * 86400)).alias("d"),
        "x",
    )
    rows = {
        (r["x"]): r["_zkey"]
        for r in maintenance.zorder_key(ts, ["ts", "d"], bits=2).collect()
    }
    assert rows[0] < rows[1] < rows[2] < rows[3]  # monotone along the diagonal


def test_recursive_cte_failure_unbinds_frontier(spark, sf_dir):
    """Round-9 advice: a recursive CTE that errors mid-fixpoint must not
    leave the working frontier bound to the CTE name — a later statement
    on the same RefSQL instance would silently read the stale frontier
    instead of raising 'no such table'."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
        ParseError,
        RefSQL,
    )
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.workloads.core import (
        _SfTables,
    )

    eng = RefSQL(_SfTables(spark, sf_dir))
    eng._RECURSION_CAP = 2  # force the non-convergence raise quickly
    with pytest.raises(ParseError, match="did not converge"):
        eng.execute(
            "WITH RECURSIVE r AS ("
            "SELECT o_orderkey AS k FROM orders LIMIT 1 "
            "UNION ALL SELECT k + 1 AS k FROM r) "
            "SELECT count(*) AS n FROM r"
        )
    assert "r" not in eng._ctes  # stale frontier must be gone
    with pytest.raises(Exception):  # and 'r' is not resolvable as a table
        eng.execute("SELECT * FROM r LIMIT 1")


def test_pq_topk_rejects_query_frame_without_q_column(spark):
    """Round-9 advice: pq_topk's query frame must expose the vector as
    column 'q' (the whole ANN family's contract); a positional read of a
    differently-shaped frame must fail loudly, not score garbage."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.operators import (
        similarity,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(64)], ["id", "vec"]
    )
    bad_query = spark.createDataFrame(
        [([1.0, 0.0, 0.0, 0.0],)], ["vector"]
    )
    with pytest.raises(ValueError, match="column 'q'"):
        similarity.pq_topk(corpus, "id", "vec", bad_query, dim=4, m=2, k_codes=4)


# -- round-10 advice fixes ----------------------------------------------------


def test_uncorrelated_scalar_subquery_with_join(engine):
    """Round-10 advice: _split_correlated must register JOINed tables and
    their aliases as INNER names — an uncorrelated scalar subquery with a
    JOIN inside used to be pre-detected as correlated (the joined side's
    qualifier looked outer) and misrouted into decorrelation."""
    engine.ref_sql("CREATE TABLE a (k INT, x INT)")
    engine.ref_sql("CREATE TABLE b (k INT, cat TEXT)")
    for k, x in [(1, 10), (2, 20), (3, 30)]:
        engine.ref_sql(f"INSERT INTO a VALUES ({k}, {x})")
    for k, cat in [(1, "'x'"), (2, "'x'"), (3, "'y'")]:
        engine.ref_sql(f"INSERT INTO b VALUES ({k}, {cat})")
    # avg(a.x) over cat='x' = 15; rows with x > 15 → x=20, 30
    rows = engine.ref_sql(
        "SELECT k FROM a WHERE x > "
        "(SELECT AVG(a.x) FROM a JOIN b ON a.k = b.k WHERE b.cat = 'x')"
    ).collect()
    assert sorted(r.k for r in rows) == [2, 3]
    # aliased join sides are inner too, including an inner-inner equality
    # conjunct (i.k = j.k shape) in the WHERE
    rows = engine.ref_sql(
        "SELECT k FROM a WHERE x > "
        "(SELECT AVG(i.x) FROM a AS i JOIN b AS j ON i.k = j.k "
        "WHERE j.cat = 'x' AND i.k = j.k)"
    ).collect()
    assert sorted(r.k for r in rows) == [2, 3]


def test_null_in_empty_subquery_is_false(engine):
    """Round-10 advice: ANSI defines ``x IN (<empty subquery>)`` as FALSE
    even for NULL x — so NOT (x IN ...) over an empty subquery must KEEP
    NULL-x rows (NOT FALSE = TRUE), matching DuckDB."""
    engine.ref_sql("CREATE TABLE t (id INT, v INT)")
    engine.ref_sql("INSERT INTO t VALUES (1, 10)")
    engine.ref_sql("INSERT INTO t VALUES (2, NULL)")
    engine.ref_sql("CREATE TABLE empty_probe (v INT)")
    rows = engine.ref_sql(
        "SELECT id FROM t WHERE NOT (v IN (SELECT v FROM empty_probe))"
    ).collect()
    assert sorted(r.id for r in rows) == [1, 2]  # NULL-v row kept
    # non-empty subquery containing NULL: non-matches stay UNKNOWN
    engine.ref_sql("INSERT INTO empty_probe VALUES (NULL)")
    rows = engine.ref_sql(
        "SELECT id FROM t WHERE NOT (v IN (SELECT v FROM empty_probe))"
    ).collect()
    assert rows == []


def test_boolean_scalar_subquery_projection(engine):
    """Round-10 advice: a SELECT-list scalar subquery resolving to a
    boolean used to splice bare TRUE/FALSE text, which fell into the
    missing-column-tolerant branch and silently projected NULL."""
    engine.ref_sql("CREATE TABLE flags (b BOOL)")
    engine.ref_sql("INSERT INTO flags VALUES (TRUE)")
    engine.ref_sql("CREATE TABLE one (x INT)")
    engine.ref_sql("INSERT INTO one VALUES (1)")
    row = engine.ref_sql(
        "SELECT x, (SELECT MAX(b) FROM flags) AS flag FROM one"
    ).collect()[0]
    assert row.flag is True
    assert row.x == 1


def test_interval_range_frame_rejects_mixed_numeric_bound(spark, tmp_path, sf_dir):
    """Round-10 advice: mixing an INTERVAL bound with a plain numeric
    bound used to silently reinterpret the numeric as epoch MICROSECONDS
    after the unix_micros desugar; DuckDB errors — so do we."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
        ParseError,
    )

    e = Engine(spark, str(tmp_path / "ivr"))
    e.ingest_parquet(f"{sf_dir}/events.parquet", "ev")
    # bare window verbs route through the dialect's unix_micros desugar —
    # the path where a plain 5 used to silently become 5 microseconds
    with pytest.raises(ParseError, match="cannot mix a plain numeric"):
        e.ref_sql(
            "SELECT SUM(value) OVER (ORDER BY ts RANGE BETWEEN "
            "INTERVAL 1 HOUR PRECEDING AND 5 FOLLOWING) AS s FROM ev"
        )
    with pytest.raises(ParseError, match="cannot mix a plain numeric"):
        e.ref_sql(
            "SELECT SUM(value) OVER (ORDER BY ts RANGE BETWEEN "
            "5 PRECEDING AND INTERVAL 1 HOUR FOLLOWING) AS s FROM ev"
        )
    # UNBOUNDED / CURRENT ROW companions remain valid
    got = e.ref_sql(
        "SELECT COUNT(value) OVER (ORDER BY ts RANGE BETWEEN "
        "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS s FROM ev LIMIT 5"
    ).collect()
    assert all(r.s >= 1 for r in got)


def test_vecindex_refresh_retrain_restores_entry_on_failure(spark, tmp_path, sf_dir):
    """Round-10 advice: refresh(retrain=True) deleted the registry entry
    before create(); a failing rebuild (base table dropped) must restore
    the old registration instead of orphaning the index."""
    e = Engine(spark, str(tmp_path / "vrf"))
    e.ingest_parquet(f"{sf_dir}/embeddings.parquet", "embeddings")
    e.ref_sql("CREATE VECTOR INDEX vr ON embeddings (embedding) ID vec_id CENTROIDS 4")
    e.drop_table("embeddings")
    with pytest.raises(Exception):
        e.vindexes.refresh("vr", retrain=True)
    # registration survived the failed rebuild; the old artifact still works
    assert e.ref_sql("SHOW VECTOR INDEXES") == ["vr"]
    e.ingest_parquet(f"{sf_dir}/embeddings.parquet", "embeddings")
    dim = len(e.table("embeddings").select("embedding").first()[0])
    hit = e.vindexes.search("vr", [1.0] + [0.0] * (dim - 1), k=1, n_probe=4)
    assert hit.count() == 1


# ---- round-11 ADVICE regressions ----------------------------------------


def test_alias_named_text_varchar_survives(spark, tmp_path, sf_dir):
    """Round-11 advice: the VARCHAR/TEXT→STRING token rewrite matched ANY
    ``AS <name> )`` sequence, silently renaming an alias named text/varchar
    that closes a parenthesized subselect — the outer reference then
    projected NULL via the missing-column-tolerant branch. Now the rewrite
    fires only when the ')' closes a CAST(/TRY_CAST( call."""
    e = Engine(spark, str(tmp_path / "vtx"))
    e.ingest_parquet(f"{sf_dir}/nation.parquet", "nation")
    got = e.ref_sql("SELECT text FROM (SELECT 1 AS text) AS d").collect()
    assert [r.text for r in got] == [1]
    got = e.ref_sql("SELECT varchar FROM (SELECT 2 AS varchar) AS d").collect()
    assert [r.varchar for r in got] == [2]
    # the cast-tail rewrite itself still works
    got = e.ref_sql(
        "SELECT CAST(n_nationkey AS VARCHAR) AS s FROM nation "
        "WHERE n_nationkey = 3"
    ).collect()
    assert got[0].s == "3"
    got = e.ref_sql("SELECT CAST(7 AS TEXT) AS s FROM nation LIMIT 1").collect()
    assert got[0].s == "7"


def test_named_windows_scoped_per_select(spark, tmp_path, sf_dir):
    """Round-11 advice: window names are per SELECT (standard SQL) — two
    CTEs may each define WINDOW w (the statement-global collector raised
    'duplicate WINDOW name'), and a def in one scope must not be inlined
    into OVER references in another scope."""
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
        ParseError,
    )

    e = Engine(spark, str(tmp_path / "nwsc"))
    e.ingest_parquet(f"{sf_dir}/nation.parquet", "nation")
    got = e.ref_sql(
        "WITH a AS (SELECT n_nationkey, CAST(SUM(n_nationkey) OVER w AS BIGINT) AS s "
        "FROM nation WINDOW w AS (ORDER BY n_nationkey)), "
        "b AS (SELECT n_nationkey, COUNT(*) OVER w AS c "
        "FROM nation WINDOW w AS (PARTITION BY n_regionkey)) "
        "SELECT a.n_nationkey AS k, a.s AS s, b.c AS c FROM a "
        "JOIN b ON a.n_nationkey = b.n_nationkey "
        "ORDER BY k LIMIT 3"
    ).collect()
    assert [r.k for r in got] == [0, 1, 2]
    assert [r.s for r in got] == [0, 1, 3]  # running sum of 0,1,2
    assert all(r.c >= 1 for r in got)
    # a def inside a CTE must NOT leak into the outer query's OVER refs
    with pytest.raises(Exception, match="(?i)window"):
        e.ref_sql(
            "WITH a AS (SELECT n_nationkey FROM nation "
            "WINDOW w AS (ORDER BY n_nationkey)) "
            "SELECT SUM(n_nationkey) OVER w AS s FROM a"
        )
    # duplicate names within ONE select still raise
    with pytest.raises(ParseError, match="duplicate WINDOW"):
        e.ref_sql(
            "SELECT COUNT(*) OVER w AS c FROM nation "
            "WINDOW w AS (ORDER BY n_nationkey), w AS (PARTITION BY n_regionkey)"
        )


def test_vecindex_retrain_failure_leaves_artifact_searchable(
    spark, tmp_path, sf_dir, monkeypatch
):
    """Round-11 advice: a retrain that fails DURING the rebuild write must
    leave the OLD index artifact untouched (build under a temp path, swap
    on success) — the restored registration previously pointed at a
    destroyed/partial parquet directory."""
    import os

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.operators import (
        similarity,
    )

    e = Engine(spark, str(tmp_path / "vrs"))
    e.ingest_parquet(f"{sf_dir}/embeddings.parquet", "embeddings")
    e.ref_sql(
        "CREATE VECTOR INDEX vs ON embeddings (embedding) ID vec_id CENTROIDS 4"
    )
    dim = len(e.table("embeddings").select("embedding").first()[0])
    q = [1.0] + [0.0] * (dim - 1)
    before = {r.vec_id for r in e.vindexes.search("vs", q, k=3, n_probe=4).collect()}
    idx_path = e.vindexes._get("vs")["path"]

    def boom(df, id_col, vec_col, path, **kw):
        # simulate a failure mid-write: partial garbage lands at the
        # TARGET path the builder was given, then the job dies
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-junk"), "w") as f:
            f.write("partial")
        raise RuntimeError("simulated executor loss during index write")

    monkeypatch.setattr(similarity, "ivf_build", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        e.vindexes.refresh("vs", retrain=True)
    monkeypatch.undo()
    # registration restored AND the artifact is the old, intact one
    assert e.ref_sql("SHOW VECTOR INDEXES") == ["vs"]
    # the partial rebuild is gone; only the registered lists remain
    assert os.listdir(e.vindexes.dir) == [os.path.basename(idx_path)]
    after = {r.vec_id for r in e.vindexes.search("vs", q, k=3, n_probe=4).collect()}
    assert after == before
    # and a successful retrain still swaps cleanly
    msg = e.vindexes.refresh("vs", retrain=True)
    assert "retrained" in msg
    new_path = e.vindexes._get("vs")["path"]
    assert os.listdir(e.vindexes.dir) == [os.path.basename(new_path)]
    assert e.vindexes.search("vs", q, k=3, n_probe=4).count() == 3


def test_create_or_replace_is_atomic(spark, tmp_path, sf_dir):
    """Round-11 advice: CREATE OR REPLACE TABLE validated nothing before
    dropping — a definition that failed at create time lost BOTH tables.
    Now the new definition validates (plain) / fully materializes in
    staging (CTAS) before the old table is touched."""
    e = Engine(spark, str(tmp_path / "corat"))
    e.ref_sql("CREATE TABLE t (a INT, b TEXT)")
    e.ref_sql("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    # plain replace with a bad column type: old table intact
    with pytest.raises(Exception):
        e.ref_sql("CREATE OR REPLACE TABLE t (a NOTATYPE)")
    assert sorted(r.a for r in e.table("t").collect()) == [1, 2]
    # CTAS replace whose SELECT fails at EXECUTION (ANSI divide-by-zero
    # surfaces mid-write, after planning): old table intact
    with pytest.raises(Exception):
        e.ref_sql(
            "CREATE OR REPLACE TABLE t AS SELECT a / 0 AS a FROM t"
        )
    assert sorted(r.a for r in e.table("t").collect()) == [1, 2]
    assert e.table("t").columns == ["a", "b"]
    # and the happy paths still replace (schema change + self-reference)
    e.ref_sql("CREATE OR REPLACE TABLE t AS SELECT a + 10 AS a FROM t")
    assert sorted(r.a for r in e.table("t").collect()) == [11, 12]
