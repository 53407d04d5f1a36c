"""One file-format table (sources/files.py) behind every file surface:
``FROM 'path'``, ``read_*()``, COPY FROM into a new or an existing
table, COPY TO → COPY FROM, and EXPORT → IMPORT DATABASE read the same
rows with the same declared types for every extension, ``.gz`` and
``.pq`` included."""

from __future__ import annotations

import csv
import glob
import gzip
import io
import json
import os

import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq
import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    ParseError,
)

# BIGINT keys, so CSV and JSON inference land on the declared type too.
ROWS = [(3_000_000_001, "a", 1.5), (3_000_000_002, None, 2.25)]
TYPES = [("k", "bigint"), ("v", "string"), ("x", "double")]
DECL = "k BIGINT, v TEXT, x DOUBLE"
EXTENSIONS = [
    ".parquet", ".pq", ".orc", ".csv", ".csv.gz", ".jsonl", ".jsonl.gz",
    ".ndjson", ".ndjson.gz", ".json", ".json.gz",
]
# read_<FORMAT name>() for each extension's own spelling
READ_FN = {
    ".parquet": "read_parquet", ".pq": "read_parquet", ".orc": "read_orc",
    ".csv": "read_csv", ".jsonl": "read_jsonl", ".ndjson": "read_ndjson",
    ".json": "read_json",
}
SURFACES = ["from_path", "read_fn", "copy_new", "copy_existing", "copy_round_trip"]


def _write_source(path: str) -> None:
    """One file holding ROWS, written without this engine."""
    low = path.lower()
    table = pa.table(
        {n: [r[i] for r in ROWS] for i, (n, _) in enumerate(TYPES)}
    )
    if low.endswith((".parquet", ".pq")):
        pq.write_table(table, path)
        return
    if low.endswith(".orc"):
        orc.write_table(table, path)
        return
    if ".csv" in low:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow([n for n, _ in TYPES])
        w.writerows(["" if v is None else v for v in r] for r in ROWS)
        text = buf.getvalue()
    else:
        text = "".join(
            json.dumps(dict(zip([n for n, _ in TYPES], r))) + "\n" for r in ROWS
        )
    data = text.encode()
    with open(path, "wb") as f:
        f.write(gzip.compress(data) if low.endswith(".gz") else data)


def _engine_with_src(spark, root) -> Engine:
    e = Engine(spark, str(root / "db"))
    e.ref_sql(f"CREATE TABLE src ({DECL})")
    e.ref_sql("INSERT INTO src VALUES (3000000001, 'a', 1.5), (3000000002, NULL, 2.25)")
    return e


@pytest.fixture(scope="module")
def fe(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("files")
    return _engine_with_src(spark, root), root


@pytest.fixture(scope="module")
def exporter(spark, tmp_path_factory):
    """An engine holding ``src`` and a partitioned copy of it, whose
    export lists the partition column last."""
    root = tmp_path_factory.mktemp("export")
    e = _engine_with_src(spark, root)
    e.ref_sql(f"CREATE TABLE parted ({DECL}) PARTITIONED BY (v)")
    e.ref_sql("INSERT INTO parted SELECT * FROM src")
    return e, root


def _result(df):
    return sorted(map(tuple, df.collect())), df.dtypes


@pytest.mark.parametrize("ext", EXTENSIONS)
@pytest.mark.parametrize("surface", SURFACES)
def test_every_surface_reads_every_extension(fe, surface, ext):
    e, root = fe
    tag = f"{surface}_{ext.replace('.', '_')}"
    path = str(root / f"src{ext}")
    if not os.path.exists(path):
        _write_source(path)
    if surface == "from_path":
        # the relation binds the file name without its extension
        df = e.ref_sql(f"SELECT src.k, src.v, src.x FROM '{path}'")
    elif surface == "read_fn":
        df = e.ref_sql(f"SELECT * FROM {READ_FN[ext.removesuffix('.gz')]}('{path}')")
    elif surface == "copy_new":
        assert "created" in e.ref_sql(f"COPY {tag} FROM '{path}'")
        df = e.table(tag)
    elif surface == "copy_existing":
        e.ref_sql(f"CREATE TABLE {tag} ({DECL})")
        assert e.ref_sql(f"COPY {tag} FROM '{path}'") == (
            f"appended 2 row(s) to '{tag}'"
        )
        df = e.table(tag)
    else:
        out = str(root / f"out_{tag}{ext}")
        assert "2 row(s)" in e.ref_sql(f"COPY src TO '{out}'")
        if ext.endswith(".gz"):
            # a .gz name promises gzip: every part file carries its magic
            parts = glob.glob(os.path.join(out, "**", "part-*"), recursive=True)
            assert parts
            for part in parts:
                with open(part, "rb") as f:
                    assert f.read(2) == b"\x1f\x8b", part
        e.ref_sql(f"COPY {tag} FROM '{out}'")
        df = e.table(tag)
    assert _result(df) == (sorted(ROWS), TYPES)


@pytest.mark.parametrize("spelling", ["parquet", "csv", "json", "jsonl", "ndjson", "orc"])
def test_export_import_every_format_name(exporter, spark, spelling):
    e, root = exporter
    exp = root / f"exp_{spelling}"
    e.ref_sql(f"EXPORT DATABASE '{exp}' FORMAT {spelling.upper()}")
    e2 = Engine(spark, str(root / f"imp_{spelling}"))
    e2.ref_sql(f"IMPORT DATABASE '{exp}'")
    assert _result(e2.table("src")) == (sorted(ROWS), TYPES)
    assert _result(e2.table("parted").select("k", "v", "x")) == (sorted(ROWS), TYPES)


def test_malformed_jsonl_appends_nothing(fe):
    e, root = fe
    e.ref_sql(f"CREATE TABLE strict ({DECL})")
    e.ref_sql("INSERT INTO strict VALUES (1, 'keep', 0.5)")
    version = e.catalog.get("strict").version
    bad = root / "bad.jsonl"
    bad.write_text('{"k": 2, "v": "b", "x": 1}\n{not json\n{"k": 3, "v": "c", "x": 2}\n')
    with pytest.raises(Exception, match="(?i)malformed"):
        e.ref_sql(f"COPY strict FROM '{bad}'")
    assert e.catalog.get("strict").version == version
    assert [tuple(r) for r in e.table("strict").collect()] == [(1, "keep", 0.5)]
    with pytest.raises(Exception, match="(?i)malformed"):
        e.ref_sql(f"SELECT * FROM '{bad}'").collect()


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM '{root}/x.txt'",
        "SELECT * FROM '{root}/x.gz'",
        "COPY src FROM '{root}/x.txt'",
        "COPY src FROM '{root}/src.csv' FORMAT xml",
        "COPY src TO '{root}/o' FORMAT xml",
        "COPY src TO '{root}/o.txt'",
        "EXPORT DATABASE '{root}/e_xml' FORMAT xml",
    ],
)
def test_unknown_format_lists_the_supported_names(fe, sql):
    e, root = fe
    with pytest.raises(ParseError, match="unsupported file type") as err:
        e.ref_sql(sql.format(root=root))
    assert all(n in str(err.value) for n in ("parquet", "csv", "ndjson", "orc"))
