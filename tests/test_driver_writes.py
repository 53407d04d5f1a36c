"""Literal INSERT batches, empty versions and single-file Parquet ingests
are written by the driver, without a Spark job, and so are the rewrites
of small tables for UPDATE, DELETE and row-preserving MERGEs, after one
``toArrow()`` job (engine.py, tables.py).

Each test checks that the driver-written files read back exactly as
Spark's own writer wrote the same rows, that other readers (DuckDB) read
them, and that a failed write leaves nothing behind. About 30 s for the
file on a 4-core box with a cold JVM, most of it the first test's.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import filecmp
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.engine import (
    _coerce,
)

COLUMNS = [
    ("k", "INT"),
    ("r_text", "TEXT"),
    ("r_dec", "DECIMAL"),
    ("r_bool", "BOOL"),
    ("r_img", "IMAGE"),
    ("s_tiny", "tinyint"),
    ("s_small", "smallint"),
    ("s_int", "int"),
    ("s_big", "bigint"),
    ("s_float", "float"),
    ("s_double", "double"),
    ("s_dec", "decimal(10,2)"),
    ("s_date", "date"),
    ("s_ts", "timestamp"),
    ("s_ntz", "timestamp_ntz"),
    ("s_bin", "binary"),
    ("s_arr", "array<int>"),
    ("s_map", "map<string,int>"),
    ("s_struct", "struct<x:int,y:string>"),
]

_TS = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)
_AWARE = datetime.datetime(
    2024, 3, 1, 1, 2, 3, tzinfo=datetime.timezone(datetime.timedelta(hours=5))
)

ROWS = [
    {
        "k": 1, "r_text": "one", "r_dec": 1.5, "r_bool": True, "r_img": "cat",
        "s_tiny": -128, "s_small": 32767, "s_int": -(2**31), "s_big": 2**62,
        "s_float": 1.1, "s_double": 2.5e300, "s_dec": decimal.Decimal("1.235"),
        "s_date": datetime.date(1999, 12, 31), "s_ts": _TS, "s_ntz": _TS,
        "s_bin": b"\x00\xff", "s_arr": [1, None, 3], "s_map": {"a": 1, "b": None},
        "s_struct": {"x": 7, "y": "seven"},
    },
    {
        # strings coerced to the declared types, as INSERT VALUES sends them
        "k": "2", "r_text": 2, "r_dec": "-0.25", "r_bool": "yes", "r_img": "x",
        "s_tiny": "12", "s_small": "-3", "s_int": "4", "s_big": "-5",
        "s_float": "0.1", "s_double": "1e-3", "s_dec": "-99999999.994",
        "s_date": "2020-02-02 10:00:00", "s_ts": "2021-06-01 12:00:00+02:00",
        "s_ntz": "2021-06-01T12:00:00", "s_bin": bytearray(b"ab"),
        "s_arr": (), "s_map": {}, "s_struct": (1, None),
    },
    {
        "k": 3, "s_ts": _AWARE, "s_ntz": _AWARE, "s_date": _TS,
        "s_dec": 5, "s_struct": None,
    },
    {"k": 4},
]


def _data_files(e: Engine, name: str) -> list[str]:
    return sorted(glob.glob(os.path.join(e.store.table_path(name), "**", "*.parquet"), recursive=True))


def _sorted_rows(e: Engine, name: str) -> list:
    return sorted(e.table(name).collect(), key=lambda r: r.k)


def test_insert_batch_reads_back_as_spark_wrote_it(spark, tmp_path):
    """Every declared type: the driver-written batch reads back equal to
    the same rows written by Spark's own writer (the coerced rows through
    ``createDataFrame`` and ``store.append``), and DuckDB reads the file."""
    import duckdb

    e = Engine(spark, str(tmp_path / "db"))
    for name in ("driver", "spark"):
        e.create_table(name, COLUMNS)
    assert e.insert_rows("driver", ROWS) == len(ROWS)
    meta = e.catalog.get("spark")
    coerced = [
        {c.name: _coerce(row.get(c.name), c.decl) for c in meta.columns}
        for row in ROWS
    ]
    e.store.append("spark", spark.createDataFrame(coerced, meta.schema))
    got = _sorted_rows(e, "driver")
    assert got == _sorted_rows(e, "spark")
    assert got[0].s_dec == decimal.Decimal("1.24")  # rounded half up
    assert got[1].s_dec == decimal.Decimal("-99999999.99")

    files = _data_files(e, "driver")
    assert len(files) == 2  # the empty CREATE file and the batch
    con = duckdb.connect()
    rel = f"read_parquet({files!r})"
    assert con.execute(
        f"SELECT k, r_text, s_big, s_dec, s_date, s_arr, s_struct.y FROM {rel} ORDER BY k"
    ).fetchall() == [
        (1, "one", 2**62, decimal.Decimal("1.24"), datetime.date(1999, 12, 31), [1, None, 3], "seven"),
        (2, "2", -5, decimal.Decimal("-99999999.99"), datetime.date(2020, 2, 2), [], None),
        (3, None, None, decimal.Decimal("5.00"), datetime.date(2024, 2, 29), None, None),
        (4, None, None, None, None, None, None),
    ]
    assert con.execute(f"SELECT s_map['a'] FROM {rel} WHERE k = 1").fetchall() in (
        [(1,)], [([1],)]
    )


def test_insert_values_reads_back_as_spark_wrote_it(spark, tmp_path):
    """The dialect's INSERT VALUES over every scalar type, against the
    parsed values written by Spark's own writer."""
    e = Engine(spark, str(tmp_path / "db"))
    scalar = [(n, d) for n, d in COLUMNS if d != "binary" and "<" not in d]
    for name in ("driver", "spark"):
        e.create_table(name, scalar)
    parsed = [
        5, "five", 2.5, True, "img", 1, 2, 3, 4, 0.5, 0.25, 12.345,
        datetime.date(2001, 1, 1), datetime.datetime(2001, 1, 1, 1, 2, 3),
        "2001-01-01 01:02:03",
    ]
    e.ref_sql(
        "INSERT INTO driver VALUES (5, 'five', 2.5, true, 'img', 1, 2, 3, 4, "
        "0.5, 0.25, 12.345, DATE '2001-01-01', "
        "TIMESTAMP '2001-01-01 01:02:03', '2001-01-01 01:02:03')"
    )
    meta = e.catalog.get("spark")
    row = {c.name: _coerce(v, c.decl) for c, v in zip(meta.columns, parsed)}
    e.store.append("spark", spark.createDataFrame([row], meta.schema))
    assert _sorted_rows(e, "driver") == _sorted_rows(e, "spark")


def test_insert_refusals_match_spark(spark, tmp_path):
    """A value Spark's own conversion refuses is refused before anything
    is written, with the table named."""
    e = Engine(spark, str(tmp_path / "db"))
    e.create_table("t", COLUMNS)
    before = _data_files(e, "t")
    for bad, match in (
        ({"k": 1, "s_tiny": 300}, "between -128 and 127"),
        ({"k": 1, "s_bin": "text"}, "does not fit the declared schema"),
        ({"k": 1, "s_arr": [1.5]}, "does not fit the declared schema"),
        ({"k": 1, "s_dec": "123456789.1"}, "decimal\\(10,2\\)"),
        ({"k": 1, "nope": 1}, "unknown columns"),
    ):
        with pytest.raises(ValueError, match=match):
            e.insert_rows("t", [{"k": 0}, bad])
    assert _data_files(e, "t") == before
    assert e.table("t").count() == 0


def test_insert_values_runs_no_spark_job_and_adds_one_file(spark, tmp_path):
    e = Engine(spark, str(tmp_path / "db"))
    sc = spark.sparkContext
    sc.setJobGroup("driver-insert", "INSERT VALUES")
    try:
        e.ref_sql("CREATE TABLE t (k INT, v TEXT)")
        files = _data_files(e, "t")
        assert len(files) == 1 and pq.read_table(files[0]).num_rows == 0
        for n in (1, 5):
            before = set(_data_files(e, "t"))
            values = ", ".join(f"({i}, 'v{i}')" for i in range(n))
            assert e.ref_sql(f"INSERT INTO t VALUES {values}") == n
            added = set(_data_files(e, "t")) - before
            assert len(added) == 1 and len(before - set(_data_files(e, "t"))) == 0
            assert pq.read_table(added.pop()).num_rows == n
        e.ref_sql("TRUNCATE TABLE t")
        assert [pq.read_table(f).num_rows for f in _data_files(e, "t")] == [0]
        assert sc.statusTracker().getJobIdsForGroup("driver-insert") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # nothing staged is left in the table directory
    assert os.listdir(os.path.dirname(e.store.table_path("t"))) == ["v1"]
    assert e.ref_sql("SELECT count(*) AS n FROM t").collect()[0].n == 0


def test_partitioned_empty_version_and_insert(spark, tmp_path):
    """A partitioned table's empty version holds no file; its INSERT goes
    through Spark's partitioned writer, and RETURNING sees the batch."""
    e = Engine(spark, str(tmp_path / "db"))
    e.ref_sql("CREATE TABLE p (k INT, g TEXT) PARTITIONED BY (g)")
    assert _data_files(e, "p") == []
    got = e.ref_sql("INSERT INTO p VALUES (1, 'x'), (2, 'y') RETURNING k, g")
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x"), (2, "y")]
    assert sorted(os.path.basename(os.path.dirname(f)) for f in _data_files(e, "p")) == [
        "g=x", "g=y"
    ]
    assert sorted(tuple(r) for r in e.table("p").collect()) == [(1, "x"), (2, "y")]


def _write_sample(path: str, rows: int = 500) -> None:
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(rows), pa.int64()),
                "grp": pa.array([i % 3 for i in range(rows)], pa.int32()),
                "name": pa.array([f"n{i}" for i in range(rows)]),
                "when": pa.array(
                    [datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i) for i in range(rows)],
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        path,
        compression="snappy",
    )


def test_ingest_adopts_the_file_unchanged(spark, tmp_path):
    src = str(tmp_path / "up.parquet")
    _write_sample(src)
    e = Engine(spark, str(tmp_path / "db"))
    assert e.ingest_parquet(src, "up") == 500
    [adopted] = _data_files(e, "up")
    assert filecmp.cmp(src, adopted, shallow=False)
    assert e.describe("up") == [
        ("id", "BIGINT"), ("grp", "INT"), ("name", "STRING"), ("when", "TIMESTAMP")
    ]
    assert e.ref_sql("SELECT sum(id) AS s, max(name) AS m FROM up").collect()[0] == (
        sum(range(500)), "n99"
    )
    # partitioned ingest keeps the Spark rewrite
    assert e.ingest_parquet(src, "parted", partition_by=["grp"]) == 500
    assert len({os.path.dirname(f) for f in _data_files(e, "parted")}) == 3


def test_ingest_refuses_unreadable_parquet(spark, tmp_path):
    """A truncated upload and one whose footer is intact but whose data
    pages are not both fail the ingest, leaving no catalog entry and no
    table directory."""
    src = str(tmp_path / "good.parquet")
    _write_sample(src)
    data = open(src, "rb").read()
    truncated = str(tmp_path / "truncated.parquet")
    with open(truncated, "wb") as f:
        f.write(data[: len(data) // 2])
    corrupt = str(tmp_path / "corrupt.parquet")
    with open(corrupt, "wb") as f:
        f.write(data[:4] + b"\xff" * 64 + data[68:])
    e = Engine(spark, str(tmp_path / "db"))
    for bad in (truncated, corrupt):
        with pytest.raises(Exception):
            e.ingest_parquet(bad, "bad")
        assert "bad" not in e.catalog
        assert os.listdir(os.path.join(e.store.root, "tables")) == []


def test_types_without_a_pyarrow_form_use_spark_writer(spark, tmp_path):
    """A column type pyarrow does not write as Spark does (here a
    day-time interval) keeps Spark's writer for the empty version and for
    INSERT, and the batch reads back as inserted."""
    e = Engine(spark, str(tmp_path / "db"))
    e.create_table("iv", [("k", "INT"), ("d", "interval day to second")])
    e.insert_rows("iv", [{"k": 1, "d": datetime.timedelta(days=1, seconds=5)}])
    _n, batch = e.insert_rows_returning("iv", [{"k": 2, "d": None}])
    assert [tuple(r) for r in batch.collect()] == [(2, None)]
    assert _sorted_rows(e, "iv") == [
        (1, datetime.timedelta(days=1, seconds=5)), (2, None)
    ]


# -- small-table rewrites (UPDATE, DELETE, MERGE) ----------------------------

_OPEN_COST = "spark.sql.files.openCostInBytes"


def _spark_wrote(e: Engine, name: str) -> bool:
    """Whether the live version of ``name`` came from Spark's file commit,
    which leaves ``_SUCCESS``; the driver writes one Parquet file only."""
    return os.path.exists(os.path.join(e.store.table_path(name), "_SUCCESS"))


@contextlib.contextmanager
def _open_cost(spark, value: str):
    old = spark.conf.get(_OPEN_COST)
    spark.conf.set(_OPEN_COST, value)
    try:
        yield
    finally:
        spark.conf.set(_OPEN_COST, old)


def test_update_delete_read_back_as_spark_wrote_them(spark, tmp_path):
    """Every declared type through an UPDATE and a DELETE on the driver
    path reads back equal to the same statements written by Spark's
    writer (forced by a zero ``openCostInBytes``), and DuckDB reads the
    driver's file."""
    import duckdb

    e = Engine(spark, str(tmp_path / "db"))
    for name in ("driver", "spark"):
        e.create_table(name, COLUMNS)
        e.insert_rows(name, ROWS)

    def statements(name: str) -> tuple[int, int]:
        updated = e.update(
            name,
            {"r_text": "changed", "s_big": F.col("s_big") + 1, "s_dec": "7.125"},
            "k <= 2",
        )
        return updated, e.delete(name, "k = 4")

    assert statements("driver") == (2, 1)
    assert not _spark_wrote(e, "driver")
    with _open_cost(spark, "0"):
        assert statements("spark") == (2, 1)
    assert _spark_wrote(e, "spark")
    got = _sorted_rows(e, "driver")
    assert got == _sorted_rows(e, "spark")
    assert [(r.k, r.r_text, r.s_dec) for r in got] == [
        (1, "changed", decimal.Decimal("7.13")),
        (2, "changed", decimal.Decimal("7.13")),
        (3, None, decimal.Decimal("5.00")),
    ]

    [file] = _data_files(e, "driver")
    con = duckdb.connect()
    assert con.execute(
        f"SELECT k, r_text, s_big, s_date, s_arr, s_struct.y FROM read_parquet('{file}') ORDER BY k"
    ).fetchall() == [
        (1, "changed", 2**62 + 1, datetime.date(1999, 12, 31), [1, None, 3], "seven"),
        (2, "changed", -4, datetime.date(2020, 2, 2), [], None),
        (3, None, None, datetime.date(2024, 2, 29), None, None),
    ]


def test_rewrites_that_keep_spark_writer(spark, tmp_path):
    """Only an unpartitioned, pyarrow-writable table at most
    ``openCostInBytes`` big, rewritten by a statement that adds no rows,
    is written by the driver; each other case keeps Spark's writer."""
    e = Engine(spark, str(tmp_path / "db"))
    e.ref_sql("CREATE TABLE t (k INT, v TEXT)")
    e.ref_sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    e.ref_sql("CREATE TABLE s (k INT, v TEXT)")
    e.ref_sql("INSERT INTO s VALUES (2, 'B'), (9, 'Z')")
    merge = "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *"

    for sql, n in (
        ("UPDATE t SET v = 'x' WHERE k = 1", 1),
        ("DELETE FROM t WHERE k = 3", 1),
        (merge, 1),
        ("UPDATE t SET v = s.v FROM s WHERE t.k = s.k", 1),
    ):
        assert e.ref_sql(sql) == n
        assert not _spark_wrote(e, "t") and len(_data_files(e, "t")) == 1
    # a MERGE that can insert
    assert e.ref_sql(merge + " WHEN NOT MATCHED THEN INSERT *") == 2
    assert _spark_wrote(e, "t")
    assert e.ref_sql("INSERT INTO t VALUES (2, 'q') ON CONFLICT (k) DO UPDATE SET v = 'u'") == 1
    assert _spark_wrote(e, "t")
    # a live version over the threshold
    e.ref_sql("DELETE FROM t WHERE k = 9")
    assert not _spark_wrote(e, "t")
    size = sum(os.path.getsize(f) for f in _data_files(e, "t"))
    with _open_cost(spark, f"{size - 1}b"):
        e.ref_sql("UPDATE t SET v = 'y' WHERE k = 1")
    assert _spark_wrote(e, "t")
    assert sorted(tuple(r) for r in e.table("t").collect()) == [(1, "y"), (2, "u")]

    # a partitioned table
    e.ref_sql("CREATE TABLE p (k INT, g TEXT) PARTITIONED BY (g)")
    e.ref_sql("INSERT INTO p VALUES (1, 'x'), (2, 'y')")
    assert e.ref_sql("UPDATE p SET k = 5 WHERE k = 1") == 1
    assert _spark_wrote(e, "p")
    # a type pyarrow does not write as Spark does
    e.create_table("iv", [("k", "INT"), ("d", "interval day to second")])
    e.insert_rows("iv", [{"k": 1, "d": datetime.timedelta(days=1)}, {"k": 2}])
    assert e.delete("iv", "k = 2") == 1
    assert _spark_wrote(e, "iv")
    assert _sorted_rows(e, "iv") == [(1, datetime.timedelta(days=1))]


def test_driver_rewrite_returning_and_guard(spark, tmp_path):
    """RETURNING and the duplicate-match guard behave on the driver path
    as on Spark's: the returned rows carry the new values and match
    DuckDB's, the statement runs ONE job (the RETURNING rows are cut from
    the Table the rewrite collects), and a guarded MERGE raises before
    anything is committed."""
    import duckdb

    e = Engine(spark, str(tmp_path / "db"))
    con = duckdb.connect()
    sc = spark.sparkContext
    for sql in (
        "CREATE TABLE t (k INT, v TEXT)",
        "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')",
    ):
        e.ref_sql(sql)
        con.execute(sql)
    for group, sql in (
        ("returning-update", "UPDATE t SET v = 'x' WHERE k >= 2 RETURNING k, v"),
        ("returning-delete", "DELETE FROM t WHERE k = 3 RETURNING k, v"),
    ):
        sc.setJobGroup(group, sql)
        try:
            got = e.ref_sql(sql)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        want = sorted(con.execute(sql).fetchall())
        assert sorted(tuple(r) for r in got.collect()) == want
    assert want == [(3, "x")]
    assert not _spark_wrote(e, "t")

    e.ref_sql("CREATE TABLE s (k INT, v TEXT)")
    e.ref_sql("INSERT INTO s VALUES (1, 'p'), (1, 'q')")
    live = e.store.table_path("t")
    with pytest.raises(ValueError, match="multiple source rows"):
        e.ref_sql("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *")
    assert e.store.table_path("t") == live
    assert os.listdir(os.path.dirname(live)) == [os.path.basename(live)]
    assert sorted(tuple(r) for r in e.table("t").collect()) == [(1, "a"), (2, "x")]
