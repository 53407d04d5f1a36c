"""File formats: which path extension and which FORMAT name mean which
format, and how Spark reads and writes each.

Every file surface goes through this table: the REST upload, ``COPY ...
FROM`` / ``COPY ... TO``, ``FROM 'path'`` and ``read_*('path')``, and
``EXPORT`` / ``IMPORT DATABASE``. So an extension, a spelling or a read
option means the same thing on each of them.

The text formats (CSV, JSON Lines) are read FAILFAST: a malformed line
fails the whole read instead of turning into a NULL row, which is also
DuckDB's default for ``read_csv`` and ``read_json``. Their ``.gz`` files
are read as they are, because Spark picks the decompressor from the
file suffix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


@dataclass(frozen=True)
class Format:
    names: tuple[str, ...]  # FORMAT spellings
    extensions: tuple[str, ...]
    text: bool = False  # typed by inference or a declared schema; may be .gz
    read: dict = field(default_factory=dict)
    write: dict = field(default_factory=dict)


def _text(names, extensions, read, write) -> Format:
    gz = tuple(e + ".gz" for e in extensions)
    return Format(names, extensions + gz, True, read, write)


# Keyed by the canonical name, which is also Spark's source name.
FORMATS = {
    "parquet": Format(("parquet",), (".parquet", ".pq")),
    "csv": _text(
        ("csv",), (".csv",),
        {"header": True, "inferSchema": True, "mode": "FAILFAST"},
        {"header": True},
    ),
    # JSON Lines, one object per line. Writing NULL fields keeps sparse
    # columns in the file, so a re-read gets the same schema back.
    "json": _text(
        ("json", "jsonl", "ndjson"), (".jsonl", ".ndjson", ".json"),
        {"mode": "FAILFAST"},
        {"ignoreNullFields": False},
    ),
    "orc": Format(("orc",), (".orc",)),
}

_SPELLINGS = {s: name for name, f in FORMATS.items() for s in f.names}
_EXTENSIONS = {e: name for name, f in FORMATS.items() for e in f.extensions}
_SUPPORTED = "; ".join(
    f"{'|'.join(f.names)} ({' '.join(f.extensions)})" for f in FORMATS.values()
)


def _unsupported(what: str) -> ValueError:
    return ValueError(f"unsupported file type {what!r} — supported: {_SUPPORTED}")


def named(spelling: str) -> str:
    """The format a FORMAT name spells (any case)."""
    try:
        return _SPELLINGS[spelling.lower()]
    except KeyError:
        raise _unsupported(spelling) from None


def _split(path: str) -> tuple[str, str | None]:
    """(file name without its known extension, that extension lower-cased
    or None)."""
    base = os.path.basename(path.rstrip("/"))
    low = base.lower()
    # longest first, so ``x.csv.gz`` matches ``.csv.gz``, not ``.gz``
    for ext in sorted(_EXTENSIONS, key=len, reverse=True):
        if low.endswith(ext) and len(low) > len(ext):
            return base[: -len(ext)], ext
    return base, None


def extension(path: str) -> str:
    """``path``'s known extension, lower-cased, compound for gzip
    (``.csv.gz``)."""
    ext = _split(path)[1]
    if ext is None:
        raise _unsupported(os.path.splitext(path)[1] or path)
    return ext


def format_of(path: str, default: str | None = None) -> str:
    """The format ``path``'s extension names. A file name with no dot at
    all (a directory Spark wrote) is ``default`` when one is given."""
    name, ext = _split(path)
    if ext is None and default is not None and "." not in name:
        return default
    return _EXTENSIONS[extension(path)]


def stem(path: str) -> str:
    """The relation name a file binds: its name without the known
    extension (``x.csv.gz`` is ``x``), else without its last suffix."""
    name, ext = _split(path)
    return name if ext else (name.rsplit(".", 1)[0] or name)


def read(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema=None,
    all_text: bool = False,
) -> DataFrame:
    """Read a file, directory or glob as ``fmt``.

    ``schema`` (a StructType or DDL string) types a text format's columns
    by name in place of inference. Parquet and ORC carry their own types
    and ignore it; callers align those by name. ``all_text`` reads CSV columns as TEXT, as the
    reference types every imported CSV column; JSON values carry their
    own types and keep them."""
    f = FORMATS[fmt]
    reader = spark.read.format(fmt).options(**f.read)
    if f.text and schema is not None:
        if fmt == "csv":
            schema = _in_header_order(spark, path, schema)
        reader = reader.schema(schema)
    if all_text:
        reader = reader.option("inferSchema", False)
    df = reader.load(path)
    if not df.columns:
        what = "JSON objects" if fmt == "json" else "columns"
        raise ValueError(f"no {what} found under {path!r}")
    return df


def _in_header_order(spark: SparkSession, path: str, schema) -> StructType:
    """``schema`` reordered to the CSV header, because Spark binds a CSV
    schema by position. A header column the schema lacks reads as TEXT;
    a partitioned export's partition columns, which no file holds, come
    last as Spark lists them."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = {f.name: f for f in schema.fields}
    # without inference only the first line is read
    header = spark.read.format("csv").option("header", True).load(path).columns
    ordered = [fields.pop(c, StructField(c, StringType())) for c in header]
    return StructType(ordered + list(fields.values()))


def write(
    df: DataFrame, path: str, fmt: str, partition_by: list[str] | None = None
) -> None:
    """Write ``df`` as ``fmt`` under the directory ``path``, replacing it;
    one file per partition. A text format under a ``.gz`` name
    (``x.csv.gz``) is written gzip-compressed."""
    f = FORMATS[fmt]
    w = df.write.mode("overwrite").format(fmt).options(**f.write)
    if f.text and (_split(path)[1] or "").endswith(".gz"):
        w = w.option("compression", "gzip")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
