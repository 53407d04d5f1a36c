"""Direct unit tests for the compat expression helpers (E1/E6/E8 semantics),
the R1 formatter, and the binaryFile source plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.functions.compat import (
    dual_compare,
    ref_like,
    truthy,
    try_num,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.functions.format import (
    format_result,
    format_rows,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.sources.binary import (
    attach_image_bytes,
    load_binary_files,
    load_images,
)


@pytest.fixture(scope="module")
def textdf(spark):
    return spark.createDataFrame(
        [("1", "10"), ("2", "9"), ("3", "x"), ("4", None)], ["id", "v"]
    )


def test_try_num(textdf):
    out = {
        r.id: r.n
        for r in textdf.select("id", F.expr(try_num("v")).alias("n")).collect()
    }
    assert out == {"1": 10.0, "2": 9.0, "3": None, "4": None}


def test_dual_compare_numeric_vs_string(textdf):
    # '9' vs 10: numeric compare (9 < 10); 'x' vs 10: string compare
    out = {
        r.id: r.m
        for r in textdf.select(
            "id", F.expr(dual_compare("v", "<", "10")).alias("m")
        ).collect()
    }
    assert out["1"] is False and out["2"] is True
    assert out["3"] is False  # 'x' < '10' is False lexicographically
    out = {
        r.id: r.m
        for r in textdf.select(
            "id", F.expr(dual_compare("v", ">=", "'9'")).alias("m")
        ).collect()
    }
    assert out["2"] is True and out["1"] is True  # numeric: 10 >= 9


def test_ref_like_shapes(spark):
    df = spark.createDataFrame(
        [("apple",), ("grape",), ("applesauce",), ("pap",)], ["w"]
    )
    def matches(pat):
        return {r.w for r in df.filter(ref_like("w", pat)).collect()}

    assert matches("app%") == {"apple", "applesauce"}
    assert matches("%ape") == {"grape"}
    assert matches("%ap%") == {"apple", "grape", "applesauce", "pap"}
    assert matches("pap") == {"pap"}  # no % ⇒ exact equality, not LIKE


def test_truthy(spark):
    df = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], ["id", "b"]
    )
    assert [r.id for r in df.filter(truthy("b")).collect()] == [1]


def test_format_rows_reference_style():
    out = format_rows(["id", "name"], [(1, "Noel"), (2, None)])
    lines = out.splitlines()
    assert lines[0].startswith("id") and lines[0].index("name") == 20
    assert set(lines[1]) == {"-"}
    assert lines[2].startswith("1") and "Noel" in lines[2]
    assert "NULL" in lines[3]


def test_format_result(spark):
    df = spark.createDataFrame([(1, "a")], ["x", "y"])
    out = format_result(df)
    assert "x" in out and "a" in out


def test_binary_source_and_attach(spark, tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "cat.png").write_bytes(b"\x89PNG-cat")
    (d / "dog.jpg").write_bytes(b"\xff\xd8-dog")
    (d / "notes.txt").write_text("not an image")

    files = load_binary_files(spark, str(d))
    assert files.count() == 3
    imgs = load_images(spark, str(d))
    assert imgs.count() == 2
    row = imgs.filter(F.col("uri").endswith("cat.png")).first()
    assert bytes(row.payload) == b"\x89PNG-cat" and row.meta.n_bytes == 8

    photos = spark.createDataFrame(
        [(1, str(d / "cat.png")), (2, str(d / "missing.png"))], ["id", "img"]
    )
    joined = attach_image_bytes(photos, spark, "img")
    got = {r.id: r.payload for r in joined.collect()}
    assert bytes(got[1]) == b"\x89PNG-cat"
    assert got[2] is None  # missing file → NULL payload, row preserved
