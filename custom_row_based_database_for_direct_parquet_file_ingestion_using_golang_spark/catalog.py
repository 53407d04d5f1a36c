"""Catalog: a JSON table registry mirroring the reference's ``schema.json``.

Reference parity: the Go engine persists a ``map[tableName]Table`` of
``(name, type)`` column lists as ``schema.json`` (reference
``pkg/schema/types.go:21-77``) with five declared types
(``pkg/schema/types.go:13-19``). Here the registry maps each table to a
Parquet directory and a typed Spark ``StructType``; the Spark session catalog
gets a temp view per table so both the DataFrame and SQL surfaces see them.

Type mapping (SURVEY.md §1.3):
  INT → LongType, TEXT → StringType, DECIMAL → DoubleType (the reference's
  DECIMAL is a float64, not fixed-point), BOOL → BooleanType,
  IMAGE → StringType (resolved filesystem path; bytes loadable on demand).
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import threading
from dataclasses import dataclass, field, replace
from enum import Enum

from pyspark.sql import types as T

from .commit import write_json_atomic


def parse_timestamp(text: str, decl: str) -> datetime.datetime:
    """ISO-8601 timestamp parse ('T' or ' ' separator, optional fraction
    and offset — the forms both Spark's string→timestamp cast and DuckDB
    accept). Loud on failure: the declared schema is authoritative."""
    s = text.strip()
    for cand in (s, s.replace(" ", "T", 1)):
        try:
            return datetime.datetime.fromisoformat(cand)
        except ValueError:
            continue
    raise ValueError(
        f"cannot coerce {text!r} to declared {decl} "
        f"(expected ISO-8601, e.g. '2024-01-02 03:04:05[.ffffff]')"
    )


def parse_date(text: str, decl: str) -> datetime.date:
    s = text.strip()
    try:
        return datetime.date.fromisoformat(s)
    except ValueError:
        # Spark's cast also accepts a full timestamp string, truncating.
        return parse_timestamp(s, decl).date()


class RefType(str, Enum):
    INT = "INT"
    TEXT = "TEXT"
    DECIMAL = "DECIMAL"
    BOOL = "BOOL"
    IMAGE = "IMAGE"


_SPARK_TYPE: dict[RefType, T.DataType] = {
    RefType.INT: T.LongType(),
    RefType.TEXT: T.StringType(),
    RefType.DECIMAL: T.DoubleType(),
    RefType.BOOL: T.BooleanType(),
    RefType.IMAGE: T.StringType(),
}

_SPARK_TYPE_BY_NAME = {rt.value: t for rt, t in _SPARK_TYPE.items()}

# Reverse mapping for tables ingested from Parquet/CSV with native Spark types:
# anything not in the 5-type system is recorded with its Spark DDL string so we
# round-trip faithfully (a strict superset of the reference, which forces TEXT
# on all imports — reference pkg/importer/importer.go:37-52).
@functools.cache
def spark_type_for(decl: str) -> T.DataType:
    # Exact (uppercase) match = reference type; otherwise native Spark DDL.
    # The distinction matters because Spark's own "int" (32-bit) must not
    # collide with the reference's INT (64-bit, Go int). Memoized: a DDL
    # parse is a JVM round trip, and every schema build asks for each
    # column; a failed parse raises and is not cached. Callers share the
    # returned type and must not mutate it.
    if decl in _SPARK_TYPE_BY_NAME:
        return _SPARK_TYPE_BY_NAME[decl]
    try:
        return T._parse_datatype_string(decl)
    except Exception:
        return _SPARK_TYPE[RefType(decl.upper())]  # e.g. lowercase "text"


def _default_to_json(value: object) -> object:
    """Round-14: temporal DEFAULTs (datetime/date) persist as ISO strings
    — ``json.dump`` has no datetime encoder; ``_default_from_json``
    restores the typed value from the column's declared type."""
    if isinstance(value, datetime.datetime):
        return value.isoformat(sep=" ")
    if isinstance(value, datetime.date):
        return value.isoformat()
    return value


def _default_from_json(decl: str, value: object) -> object:
    if isinstance(value, str):
        t = spark_type_for(decl)
        if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            return parse_timestamp(value, decl)
        if isinstance(t, T.DateType):
            return parse_date(value, decl)
    return value


@dataclass
class ColumnDef:
    name: str
    decl: str  # RefType value or Spark DDL string
    # Round-13: declared DEFAULT — applied when an INSERT OMITS the
    # column (an explicit NULL stays NULL — DuckDB/ANSI). ``has_default``
    # distinguishes "DEFAULT NULL was declared" from "no default".
    default: object = None
    has_default: bool = False

    @property
    def spark_type(self) -> T.DataType:
        return spark_type_for(self.decl)


@dataclass
class TableMeta:
    name: str
    columns: list[ColumnDef]
    # The table's directory relative to the engine root, fixed at create
    # time (tables.py); empty until the store creates it.
    path: str = ""
    partition_by: list[str] = field(default_factory=list)
    # Declared PRIMARY KEY — INFORMATIONAL, the warehouse precedent
    # (Delta/Snowflake PKs are not enforced on plain appends; enforcing
    # would cost a full-table anti-join per insert at 100 TB).
    # Used as the default conflict target by INSERT ... ON CONFLICT /
    # INSERT OR REPLACE|IGNORE, which DO check it where it matters.
    primary_key: list[str] = field(default_factory=list)
    # The live data version: ``<path>/v<version>`` (tables.py).
    version: int = 0

    @property
    def schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type, True) for c in self.columns]
        )

    def to_json(self) -> dict:
        out = {
            "columns": [
                [c.name, c.decl, _default_to_json(c.default)]
                if c.has_default
                else [c.name, c.decl]
                for c in self.columns
            ],
            "path": self.path,
            "version": self.version,
            "partition_by": self.partition_by,
        }
        if self.primary_key:
            out["primary_key"] = self.primary_key
        return out

    @staticmethod
    def from_json(name: str, d: dict) -> "TableMeta":
        return TableMeta(
            name=name,
            columns=[
                ColumnDef(c[0], c[1], _default_from_json(c[1], c[2]), True)
                if len(c) == 3
                else ColumnDef(c[0], c[1])
                for c in d["columns"]
            ],
            path=d.get("path", ""),
            partition_by=d.get("partition_by", []),
            primary_key=d.get("primary_key", []),
            version=d.get("version", 0),
        )


class Catalog:
    """Persistent table registry: one JSON file per engine root, and the
    commit point of every table change (tables.py).

    Each change computes the new registry, saves it with
    ``write_json_atomic`` (the reference's temp-file + fsync + rename,
    ``pkg/storage/storage.go:290-306``) and only then takes it as the
    in-memory state, so a failed save changes nothing. No process-wide
    mutex: Spark jobs are the unit of isolation.

    ``generation`` counts the commits under the root: every catalog save,
    registry save (commit.JsonRegistry) and table-file write
    (tables.ParquetTableStore) raises it once it has finished, so a value
    read before a statement is built names the data that statement saw.
    """

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "catalog.json")
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, TableMeta] = {}
        self.generation = 0
        self._generation_lock = threading.Lock()
        if os.path.exists(self.path):
            with open(self.path) as f:
                raw = json.load(f)
            self._tables = {
                name: TableMeta.from_json(name, d)
                for name, d in raw.get("tables", {}).items()
            }

    def _commit(self, tables: dict[str, TableMeta]) -> None:
        write_json_atomic(
            self.path, {"tables": {n: m.to_json() for n, m in tables.items()}}
        )
        self._tables = tables
        self.committed()

    def committed(self) -> None:
        """A commit under the root finished: raise ``generation``."""
        with self._generation_lock:
            self.generation += 1

    # -- reference DDL surface (SURVEY.md §2.2: D1-D3) --------------------

    def add_table(self, meta: TableMeta) -> None:
        if meta.name in self._tables:
            raise ValueError(f"table '{meta.name}' already exists")
        self._commit({**self._tables, meta.name: meta})

    def update_table(self, meta: TableMeta) -> None:
        """Replace an existing table's metadata (schema evolution, a new
        data version)."""
        if meta.name not in self._tables:
            raise KeyError(f"table '{meta.name}' does not exist")
        self._commit({**self._tables, meta.name: meta})

    def drop_table(self, name: str) -> TableMeta:
        meta = self.get(name)
        self._commit({n: m for n, m in self._tables.items() if n != name})
        return meta

    def rename_table(self, old: str, new: str) -> None:
        """One commit: the entry moves to ``new``, its directory stays."""
        meta = self.get(old)
        if new in self._tables:
            raise ValueError(f"table '{new}' already exists")
        tables = {n: m for n, m in self._tables.items() if n != old}
        self._commit({**tables, new: replace(meta, name=new)})

    def get(self, name: str) -> TableMeta:
        if name not in self._tables:
            raise KeyError(f"table '{name}' does not exist")
        return self._tables[name]

    def show_tables(self) -> list[str]:
        return sorted(self._tables)

    def __contains__(self, name: str) -> bool:
        return name in self._tables
