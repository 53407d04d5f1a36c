"""The result cache behind the REPL and the REST server (results.py): a
repeated read-only statement is served from its rendered result until the
next commit, and never when its answer can change without one.

The Spark tests run statements through ``run_statement`` (the REPL path)
on one shared engine, each test on its own tables."""

from __future__ import annotations

import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.__main__ import (
    run_statement,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    RefSQL,
)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    return Engine(spark, str(tmp_path_factory.mktemp("rc") / "db"))


@pytest.fixture
def builds(monkeypatch):
    """Counts ``RefSQL.execute`` calls: a served repeat makes none."""
    calls = []
    real = RefSQL.execute

    def spy(self, sql):
        calls.append(sql)
        return real(self, sql)

    monkeypatch.setattr(RefSQL, "execute", spy)
    return calls


def _stream_one_batch(e, table, tmp_path):
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.streaming.ops import (
        stream_append_exactly_once,
    )

    src = str(tmp_path / "stream_src")
    schema = e.table(table).schema
    e.spark.createDataFrame([(5, "e")], schema).write.parquet(src)
    q = stream_append_exactly_once(e, table, e.spark.readStream.schema(schema).parquet(src))
    q.processAllAvailable()
    q.stop()


# (setup, write, query): after each write the repeated query must be built
# again, and answer differently from before the write.
# The steps run in order on one table ``w`` (k INT, v TEXT) = (1, 'a'),
# (2, 'b'); each setup runs before the query is first served.
_COMMITS = [
    (None, "INSERT INTO w VALUES (3, 'c')", "SELECT k, v FROM w ORDER BY k"),
    (None, "UPDATE w SET v = 'z' WHERE k = 1", "SELECT k, v FROM w ORDER BY k"),
    (None, "DELETE FROM w WHERE k = 2", "SELECT k, v FROM w ORDER BY k"),
    (
        "CREATE TABLE w_src (k INT, v TEXT); INSERT INTO w_src VALUES (2, 'B'), (4, 'd')",
        "MERGE INTO w USING w_src ON w.k = w_src.k WHEN MATCHED THEN "
        "UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "SELECT k, v FROM w ORDER BY k",
    ),
    (None, "ALTER TABLE w ADD COLUMN n INT", "SELECT * FROM w ORDER BY k"),
    (
        None,
        "DROP TABLE w; CREATE TABLE w (k INT, v TEXT); INSERT INTO w VALUES (7, 'x')",
        "SELECT * FROM w ORDER BY k",
    ),
    (
        "CREATE VIEW w_view AS SELECT k FROM w",
        "CREATE OR REPLACE VIEW w_view AS SELECT k + 100 AS k FROM w",
        "SELECT k FROM w_view",
    ),
    (
        "CREATE MACRO w_m(x) AS x * 10",
        "CREATE OR REPLACE MACRO w_m(x) AS x * 1000",
        "SELECT w_m(k) AS m FROM w",
    ),
    (
        "CREATE MATERIALIZED VIEW w_mv AS SELECT v, COUNT(*) AS n FROM w "
        "GROUP BY v; INSERT INTO w VALUES (8, 'y')",
        "REFRESH MATERIALIZED VIEW w_mv",
        "SELECT * FROM w_mv ORDER BY v",
    ),
    (None, _stream_one_batch, "SELECT * FROM w ORDER BY k"),
]


def test_repeated_select_sees_every_commit(engine, builds, tmp_path):
    run = lambda sql: run_statement(engine, sql)  # noqa: E731
    run("CREATE TABLE w (k INT, v TEXT); INSERT INTO w VALUES (1, 'a'), (2, 'b')")
    for setup, write, query in _COMMITS:
        if setup:
            run(setup)
        before = run(query)
        n = len(builds)
        assert run(query) == before and len(builds) == n, f"{query} was not served"
        if callable(write):
            write(engine, "w", tmp_path)
        else:
            run(write)
        n = len(builds)
        assert run(query) != before and len(builds) > n, write
    # the macro's DROP fails the statement served before it
    run("DROP MACRO w_m")
    with pytest.raises(Exception, match="w_m"):
        run("SELECT w_m(k) AS m FROM w")


def test_hit_runs_no_job_and_no_build(engine, builds):
    sc = engine.spark.sparkContext
    run_statement(engine, "CREATE TABLE h (k INT); INSERT INTO h VALUES (1), (2)")
    sql = "SELECT count(*) AS n FROM h WHERE k > 0"
    sc.setJobGroup("result-cache-hit", "result cache hit")
    try:
        first = run_statement(engine, sql)
        jobs = sorted(sc.statusTracker().getJobIdsForGroup("result-cache-hit"))
        n = len(builds)
        assert jobs and n
        assert run_statement(engine, sql) == first
        assert sorted(sc.statusTracker().getJobIdsForGroup("result-cache-hit")) == jobs
        assert len(builds) == n
        # the key is the stripped text plus weak_typing
        assert engine.render_sql(f"  {sql} ") == first and len(builds) == n
        assert engine.render_sql(sql, weak_typing=True) == first
        assert len(builds) == n + 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_changing_statements_are_never_served(engine, builds, tmp_path):
    run = lambda sql: run_statement(engine, sql)  # noqa: E731
    run("CREATE TABLE c (k INT, v TEXT); INSERT INTO c VALUES (1, 'a'), (2, 'b')")
    run("CREATE VIEW c_now AS SELECT k, NOW() AS ts FROM c")
    for sql in (
        "SELECT k, RANDOM() AS r FROM c",
        "SELECT k, UUID() AS u FROM c",
        "SELECT k, NOW() AS ts FROM c",
        "SELECT k, CURRENT_DATE AS d FROM c",
        "SELECT k, current_date() AS d FROM c",
        "SELECT k, CURRENT_TIMESTAMP AS ts FROM c",
        "SELECT k FROM c USING SAMPLE 50%",
        "SELECT * FROM c_now",
    ):
        run(sql)
        n = len(builds)
        run(sql)
        assert len(builds) > n, f"{sql} was served"
    # a direct file read outside the store: rewritten between two calls
    path = str(tmp_path / "ext.parquet")
    engine.spark.createDataFrame([(1,)], "x long").write.parquet(path)
    sql = f"SELECT x FROM '{path}'"
    assert run(sql).split()[-1] == "1"
    engine.spark.createDataFrame([(2,)], "x long").write.mode("overwrite").parquet(path)
    assert run(sql).split()[-1] == "2"
    # errors are never kept: the repeat builds and raises again
    for _ in range(2):
        n = len(builds)
        with pytest.raises(Exception):
            run("SELECT nope FROM no_such_table")
        assert len(builds) == n + 1


def test_generation_and_cache_under_threads(tmp_path):
    """Commits and cache traffic from more threads than cores: no raise of
    the generation is lost, and only results of the final generation are
    served, at most ``BOUND`` of them."""
    import sys
    import threading

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.catalog import (
        Catalog,
    )
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.results import (
        BOUND,
        ResultCache,
    )

    catalog, cache = Catalog(str(tmp_path / "root")), ResultCache()
    threads_n, commits_n = 16, 300
    stamped: dict[tuple, int] = {}

    def work(i):
        for j in range(commits_n):
            catalog.committed()
            generation = catalog.generation
            stamped[(i, j)] = generation
            cache.put((i, j), generation, f"{i}-{j}")
            cache.get((i, j), generation)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(threads_n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    final = catalog.generation
    assert final == threads_n * commits_n
    served = {k for k in stamped if cache.get(k, final) is not None}
    assert served <= {k for k, g in stamped.items() if g == final}
    assert len(served) <= BOUND
