"""Materialized views: create/refresh/read/drop lifecycle, incremental
vs full-recompute paths, state exactness, and dialect round-trips."""

from __future__ import annotations

import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    ParseError,
)


@pytest.fixture
def eng(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "mvdb"))
    e.ref_sql("CREATE TABLE sales (region TEXT, amount DECIMAL, qty INT)")
    for vals in [
        "('east', 10.5, 1)",
        "('east', 20.0, 2)",
        "('west', 5.25, 3)",
    ]:
        e.ref_sql(f"INSERT INTO sales VALUES {vals}")
    return e


def _mv_rows(e):
    return {
        r.region: (r["count"], r.total, r.min_amount, r.max_amount, r.avg_qty)
        for r in e.table("smv").collect()
    }


def test_mv_create_read_refresh_incremental(eng):
    eng.ref_sql(
        "CREATE MATERIALIZED VIEW smv AS SELECT region, COUNT(*), "
        "SUM(amount) AS total, MIN(amount), MAX(amount), AVG(qty) AS avg_qty "
        "FROM sales GROUP BY region"
    )
    assert _mv_rows(eng) == {
        "east": (2, 30.5, 10.5, 20.0, 1.5),
        "west": (1, 5.25, 5.25, 5.25, 3.0),
    }
    # appends refresh incrementally and merge into existing groups
    eng.ref_sql("INSERT INTO sales VALUES ('east', 9.5, 6)")
    eng.ref_sql("INSERT INTO sales VALUES ('north', 1.0, 1)")
    msg = eng.ref_sql("REFRESH MATERIALIZED VIEW smv")
    assert "incremental (+2 file(s))" in msg  # one file per INSERT
    assert _mv_rows(eng) == {
        "east": (3, 40.0, 9.5, 20.0, 3.0),
        "west": (1, 5.25, 5.25, 5.25, 3.0),
        "north": (1, 1.0, 1.0, 1.0, 1.0),
    }
    # no-op refresh
    assert "no new data" in eng.ref_sql("REFRESH MATERIALIZED VIEW smv")


def test_mv_full_recompute_after_rewrite(eng):
    eng.ref_sql(
        "CREATE MATERIALIZED VIEW smv AS SELECT region, COUNT(*), "
        "SUM(amount) AS total, MIN(amount), MAX(amount), AVG(qty) AS avg_qty "
        "FROM sales GROUP BY region"
    )
    eng.ref_sql("DELETE FROM sales WHERE region = 'west'")
    msg = eng.ref_sql("REFRESH MATERIALIZED VIEW smv")
    assert "full recompute" in msg
    assert set(_mv_rows(eng)) == {"east"}


def test_mv_where_and_global_agg(eng):
    eng.ref_sql(
        "CREATE MATERIALIZED VIEW gmv AS SELECT COUNT(*) AS n, "
        "SUM(amount) AS total FROM sales WHERE qty > 1"
    )
    r = eng.table("gmv").collect()[0]
    assert (r.n, r.total) == (2, 25.25)
    eng.ref_sql("INSERT INTO sales VALUES ('east', 100.0, 9)")
    eng.ref_sql("INSERT INTO sales VALUES ('east', 100.0, 1)")  # filtered out
    eng.ref_sql("REFRESH MATERIALIZED VIEW gmv")
    r = eng.table("gmv").collect()[0]
    assert (r.n, r.total) == (3, 125.25)


def test_mv_visible_to_sql_surface_and_show(eng):
    eng.ref_sql(
        "CREATE MATERIALIZED VIEW smv AS SELECT region, COUNT(*) "
        "FROM sales GROUP BY region"
    )
    assert eng.ref_sql("SHOW MATERIALIZED VIEWS") == ["smv"]
    out = eng.sql("SELECT region FROM smv ORDER BY region").collect()
    assert [r.region for r in out] == ["east", "west"]
    # dialect SELECT over the view works too (Engine.table resolves MVs)
    out2 = eng.ref_sql("SELECT region, count FROM smv ORDER BY region").collect()
    assert [r["count"] for r in out2] == [2, 1]


def test_mv_drop_and_errors(eng):
    eng.ref_sql(
        "CREATE MATERIALIZED VIEW smv AS SELECT region, COUNT(*) "
        "FROM sales GROUP BY region"
    )
    with pytest.raises(ValueError, match="already exists"):
        eng.mviews.create("smv", "SELECT COUNT(*) FROM sales")
    with pytest.raises(ValueError, match="already a table"):
        eng.mviews.create("sales", "SELECT COUNT(*) FROM sales")
    eng.ref_sql("DROP MATERIALIZED VIEW smv")
    assert "smv" not in eng.mviews
    with pytest.raises(KeyError):
        eng.mviews.refresh("smv")


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT region FROM sales",  # no aggregates
        "SELECT region, COUNT(*) FROM sales GROUP BY region ORDER BY region",
        "SELECT region, COUNT(*) FROM sales GROUP BY region HAVING count > 1",
        "SELECT COUNT(*) FROM sales LIMIT 1",
        "SELECT DISTINCT region FROM sales",
    ],
)
def test_mv_rejects_unsupported_shapes(eng, bad):
    with pytest.raises(ParseError):
        eng.mviews.create("nope", bad)


def test_mv_rejects_anything_around_the_base_table(eng, tmp_path):
    """A view maintains aggregates over the base table's files, so a
    derived table, VALUES list, file, series, time travel, SAMPLE or
    rotation around the table must be refused, not silently dropped."""
    eng.ref_sql(f"COPY sales TO '{tmp_path / 's.parquet'}'")
    for src in (
        "(SELECT * FROM sales WHERE qty > 1) AS sales",
        "sales SAMPLE 0 PERCENT BY region",
        "sales USING SAMPLE 1 ROWS",
        "sales VERSION AS OF 0",
        "(VALUES ('east', 1.0, 1)) AS sales(region, amount, qty)",
        f"'{tmp_path / 's.parquet'}' AS sales",
        "range(3) AS sales(region)",
        "sales JOIN sales AS o ON sales.region = o.region",
        "sales UNPIVOT (amount FOR region IN (qty))",
        "sales PIVOT (sum(qty) FOR region IN ('east'))",
    ):
        with pytest.raises(ParseError, match="plain base table"):
            eng.mviews.create(
                "nope", f"SELECT region, COUNT(*) FROM {src} GROUP BY region"
            )
    assert "nope" not in eng.mviews


def test_mv_approx_count_distinct_incremental_equals_batch(spark, tmp_path):
    # The HLL-register state merged incrementally (elementwise MAX) must
    # equal the batch sketch over the final table — register merge is
    # exact, not approximate, and idempotent under re-appended values.
    from pyspark.sql import functions as F

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.operators import (
        sketch as sk,
    )

    e = Engine(spark, str(tmp_path / "mvhll"))
    e.create_table("t", [("g", "TEXT"), ("k", "INT")])
    e.insert_rows("t", [{"g": "a", "k": i} for i in range(300)])
    e.insert_rows("t", [{"g": "b", "k": i} for i in range(40)])
    e.ref_sql(
        "CREATE MATERIALIZED VIEW dv AS SELECT g, "
        "APPROX_COUNT_DISTINCT(k) AS est FROM t GROUP BY g"
    )
    # append overlapping + new keys (two refreshes: merge must be
    # idempotent for re-seen keys and additive for new ones)
    e.insert_rows("t", [{"g": "a", "k": i} for i in range(250, 600)])
    assert "incremental" in e.ref_sql("REFRESH MATERIALIZED VIEW dv")
    e.insert_rows("t", [{"g": "b", "k": i} for i in range(40)])  # all dups
    assert "incremental" in e.ref_sql("REFRESH MATERIALIZED VIEW dv")
    got = {r["g"]: r["est"] for r in e.table("dv").collect()}
    want = {
        r["g"]: r["hll_est"]
        for r in sk.hll_distinct(
            e.table("t"), F.col("k").cast("string"), p=8, group_cols=["g"]
        ).collect()
    }
    assert got == want, (got, want)
    # sanity: estimates are near the true distinct counts (600 and 40)
    assert abs(got["a"] - 600) <= 0.3 * 600 and abs(got["b"] - 40) <= 15, got


def test_mv_rejects_unsupported_expr_aggregates(spark, tmp_path):
    import pytest as _pytest

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
        ParseError,
    )

    e = Engine(spark, str(tmp_path / "mvbad"))
    e.create_table("t", [("g", "TEXT"), ("v", "INT")])
    e.insert_rows("t", [{"g": "a", "v": 1}])
    with _pytest.raises(ParseError, match="do not support"):
        e.ref_sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT g, "
            "MEDIAN(v) AS m FROM t GROUP BY g"
        )
    with _pytest.raises(ParseError, match="one plain column"):
        e.ref_sql(
            "CREATE MATERIALIZED VIEW bad2 AS SELECT g, "
            "APPROX_COUNT_DISTINCT(v + 1) AS m FROM t GROUP BY g"
        )
