"""Engine: the user-facing surface (DDL, DML, query, ingest).

Maps the reference's command set (SURVEY.md §2.1-2.3) onto Spark:

  CREATE/DROP/SHOW TABLE   reference main.go:806-900, pkg/schema/types.go:79-118
  INSERT INTO              reference pkg/handlers/insert.go:79-180
  UPDATE ... SET ... WHERE reference pkg/handlers/update.go:14-106
  DELETE FROM ... WHERE    reference pkg/handlers/delete.go:13-67
  CSV / Parquet ingest     reference pkg/importer/importer.go:19-205
  SELECT ...               spark.sql / DataFrame — Catalyst does the pipeline
                           the reference hand-rolls in pkg/handlers/select.go

Deliberate semantic upgrades over the reference (documented deltas,
SURVEY.md §7.4): UPDATE casts the SET value to the declared column type
(the reference stores raw strings, update.go:57-58); UPDATE/DELETE accept the
full WHERE expression language instead of a single case-insensitive equality;
LIMIT applies on every path (the reference drops it on non-grouped SELECTs,
select.go:41-42 vs 516-597).
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import decimal
import glob
import json
import os
import re
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from .catalog import (
    Catalog,
    ColumnDef,
    RefType,
    TableMeta,
    parse_date as _parse_date,
    parse_timestamp as _parse_timestamp,
    spark_type_for,
)
from .commit import write_json_atomic
from .functions.format import render_statement_result
from .results import ResultCache, read_only, reusable
from .sources import files
from .tables import ParquetTableStore

IMAGE_EXTENSIONS = (".jpg", ".jpeg", ".png", ".gif", ".bmp", ".tiff", ".webp")


_GUARD = "__sparkdb_guard__"


def guard(message: str) -> Column:
    """An in-plan check: a ``raise_error`` Column that fails the statement
    evaluating it with ``ValueError(message)`` (see :func:`_guarded`)."""
    return F.raise_error(F.lit(f"{_GUARD}{message}{_GUARD}"))


@contextlib.contextmanager
def _guarded():
    """Turn a :func:`guard` failure raised by a Spark job back into its
    ValueError; any other failure passes through unchanged."""
    try:
        yield
    except Exception as exc:
        found = re.search(f"{_GUARD}(.*?){_GUARD}", str(exc), re.S)
        if found is None:
            raise
        raise ValueError(found.group(1)) from None


def _helper(columns: list[str], base: str) -> str:
    """A helper column name that collides with none of ``columns`` (a user
    column literally named ``__match`` must survive a rewrite untouched)."""
    while base in columns:
        base += "_"
    return base


def _coerce(value: Any, decl: str) -> Any:
    """Coerce one inserted value to its declared type.

    Mirrors the reference's per-column coercion on INSERT
    (pkg/handlers/insert.go:152-180): INT via integer parse, DECIMAL via
    float parse, BOOL via bool parse, TEXT/IMAGE as strings. Unlike the
    reference (which silently keeps the string on parse failure), a
    failed coercion raises — the declared schema is authoritative.
    """
    if value is None:
        return None
    d = decl.upper()
    if d == "INT":
        return int(value)
    if d == "DECIMAL":
        return float(value)
    if d == "BOOL":
        if isinstance(value, bool):
            return value
        return str(value).strip().lower() in ("true", "1", "t", "yes")
    if d in ("TEXT", "IMAGE"):
        return str(value)
    return _coerce_native(value, spark_type_for(decl), decl)


def _coerce_native(value: Any, dtype: T.DataType, decl: str) -> Any:
    """Coercion for columns declared with a native Spark type (the
    catalog's Spark-DDL passthrough, ``catalog.spark_type_for``), so a
    string for e.g. a TIMESTAMP column converts instead of failing Spark's
    type check. Mirrors Spark string-cast semantics for the scalar types;
    parse failures raise a loud ValueError naming the declared type.
    Values already in shape pass through; compound types (array/struct/
    map/binary) trust the caller — Spark's type verifier checks them
    against the declared schema (``_arrow_batch``; wrapped loudly by the
    callers).
    """
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(value, datetime.datetime):
            return value
        if isinstance(value, datetime.date):
            return datetime.datetime(value.year, value.month, value.day)
        if isinstance(value, str):
            return _parse_timestamp(value, decl)  # already loud
        return value
    if isinstance(dtype, T.DateType):
        if isinstance(value, datetime.datetime):
            return value.date()
        if isinstance(value, datetime.date):
            return value
        if isinstance(value, str):
            return _parse_date(value, decl)  # already loud
        return value
    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            if isinstance(value, (int, str)):
                return int(value)
        elif isinstance(dtype, (T.FloatType, T.DoubleType)):
            if isinstance(value, (int, float, str)):
                return float(value)
        elif isinstance(dtype, T.DecimalType):
            if isinstance(value, (int, float, str, decimal.Decimal)):
                return decimal.Decimal(str(value))
        elif isinstance(dtype, T.BooleanType):
            if isinstance(value, bool):
                return value
            # Round-15 (advice): honor the loud-failure contract — the old
            # membership test silently coerced 'abc' (and 2) to False,
            # where Spark/DuckDB cast nonzero ints to true and ERROR on
            # unparseable strings.
            if isinstance(value, int):
                return value != 0
            if isinstance(value, str):
                tok = value.strip().lower()
                if tok in ("true", "t", "yes", "y", "1", "on"):
                    return True
                if tok in ("false", "f", "no", "n", "0", "off"):
                    return False
                raise ValueError(f"not a boolean literal: {value!r}")
        elif isinstance(dtype, T.StringType):
            return str(value)
    except (ValueError, decimal.InvalidOperation, ArithmeticError) as exc:
        raise ValueError(
            f"cannot coerce {value!r} to declared {decl}: {exc}"
        ) from exc
    return value  # compound/unknown: trust the caller (schema-verified)


def _round_decimal(value: decimal.Decimal, dtype: T.DecimalType) -> decimal.Decimal:
    """``value`` at ``dtype``'s scale, rounded half up; too many digits
    raise. Spark converts a Python Decimal the same way."""
    ctx = decimal.Context(prec=80)  # above any DECIMAL(38, s) value
    out = value.quantize(decimal.Decimal(1).scaleb(-dtype.scale), decimal.ROUND_HALF_UP, ctx)
    if out and out.adjusted() >= dtype.precision - dtype.scale:
        raise ValueError(f"{value} cannot be represented as {dtype.simpleString()}")
    return out


def _arrow_value(value: Any, dtype: T.DataType) -> Any:
    """A value Spark's type verifier accepted for ``dtype``, in the form
    pyarrow stores as the value Spark's own conversion would: a naive
    timestamp is local time (``TimestampType.toInternal``), a
    TIMESTAMP_NTZ keeps its wall clock, a datetime for a DATE keeps its
    date, decimals round to the scale, maps become pairs and structs
    (dict, Row, tuple or object) become dicts."""
    if value is None:
        return None
    if isinstance(dtype, T.TimestampType):
        return value.astimezone(datetime.timezone.utc)
    if isinstance(dtype, T.TimestampNTZType):
        return value.replace(tzinfo=None)
    if isinstance(dtype, T.DateType) and isinstance(value, datetime.datetime):
        return value.date()
    if isinstance(dtype, T.DecimalType):
        return _round_decimal(value, dtype)
    if isinstance(dtype, T.ArrayType):
        return [_arrow_value(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.MapType):
        return [
            (_arrow_value(k, dtype.keyType), _arrow_value(v, dtype.valueType))
            for k, v in value.items()
        ]
    if isinstance(dtype, T.StructType):
        if isinstance(value, Row) and hasattr(value, "__fields__"):
            value = value.asDict()
        elif isinstance(value, (tuple, list)):
            value = dict(zip(dtype.names, value))
        elif not isinstance(value, dict):
            value = vars(value)
        return {
            f.name: _arrow_value(value.get(f.name), f.dataType) for f in dtype.fields
        }
    return value


#: The types pyarrow writes to Parquet as Spark's own writer does.
_ARROW_SCALARS = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _arrow_writable(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.ArrayType):
        return _arrow_writable(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _arrow_writable(dtype.keyType) and _arrow_writable(dtype.valueType)
    if isinstance(dtype, T.StructType):
        return all(_arrow_writable(f.dataType) for f in dtype.fields)
    return isinstance(dtype, _ARROW_SCALARS)


def _arrow_batch(schema: T.StructType, rows: list[dict[str, Any]]) -> pa.Table:
    """``rows`` (dicts keyed by every field of ``schema``) as a pyarrow
    Table under ``schema``, checked by Spark's own type verifier first so
    a batch is accepted or refused exactly as ``createDataFrame`` would."""
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(schema)
    return pa.Table.from_arrays(
        [
            pa.array([_arrow_value(r[f.name], f.dataType) for r in rows], type=a.type)
            for f, a in zip(schema.fields, arrow)
        ],
        schema=arrow,
    )


def resolve_image(identifier: str, image_dir: str) -> str | None:
    """Resolve an image identifier to a filesystem path.

    Mirrors the reference's probe order (pkg/handlers/insert.go:183-226):
    exact path → ``<dir>/<ident><ext>`` for each known extension → substring
    match over the directory listing. Returns None if nothing matches.
    """
    if os.path.isfile(identifier):
        return identifier
    if image_dir:
        for ext in IMAGE_EXTENSIONS:
            cand = os.path.join(image_dir, identifier + ext)
            if os.path.isfile(cand):
                return cand
        low = identifier.lower()
        for cand in sorted(glob.glob(os.path.join(image_dir, "*"))):
            base = os.path.basename(cand).lower()
            if low in base and base.endswith(IMAGE_EXTENSIONS):
                return cand
    return None


class Engine:
    """A database engine instance rooted at a directory.

    The root holds ``catalog.json`` plus one versioned Parquet directory
    per table (tables.py) — the Spark-native analogue of the reference's
    database directory (``data/my_first_db`` with ``schema.json`` +
    ``<table>.dat`` files, pkg/storage/storage.go:23-46). Opening an engine
    recovers the root: whatever an interrupted commit left unreferenced is
    deleted.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        image_dir: str | None = None,
        keep_snapshots: int = 0,
    ):
        self.spark = spark
        self.catalog = Catalog(root)
        self.store = ParquetTableStore(spark, self.catalog, keep_snapshots)
        self.image_dir = image_dir or ""
        from .macros import Macros
        from .matview import MaterializedViews
        from .vecindex import VectorIndexes
        from .views import Views

        self.mviews = MaterializedViews(self)
        self.vindexes = VectorIndexes(self)
        self.views = Views(self)
        self.macros = Macros(self)
        # PREPARE/EXECUTE statements — engine-scoped (the analog of
        # DuckDB's connection scope), deliberately unpersisted
        self.prepared_statements: dict[str, dict] = {}
        self.results = ResultCache()

    def table_at(self, name: str, version: int) -> DataFrame:
        """Time travel: the table as of a retired snapshot (requires the
        engine to have been created with ``keep_snapshots > 0``)."""
        meta = self.catalog.get(name)
        return self.store.read_version(name, version, meta.schema)

    def diff_versions(
        self, name: str, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Round-9: row-level snapshot diff — the CDC-read companion to
        VERSION AS OF. Returns the MULTISET difference between two
        snapshots (``v_to=None`` = the current table): rows only in the
        newer side tagged ``_change='insert'``, rows only in the older
        side tagged ``'delete'`` (an UPDATE appears as one delete + one
        insert — copy-on-write storage has no row identity to pair them).
        exceptAll keeps duplicate multiplicity exact; the diff is two
        distributed anti-semantics passes, never a driver collect."""
        older = self.table_at(name, v_from)
        newer = (
            self.table(name) if v_to is None else self.table_at(name, v_to)
        )
        ins = newer.exceptAll(older).withColumn("_change", F.lit("insert"))
        dels = older.exceptAll(newer).withColumn("_change", F.lit("delete"))
        return ins.unionByName(dels)

    # ---- DDL (D1-D3) ----------------------------------------------------

    def create_table(
        self,
        name: str,
        columns: list[tuple[str, str]],
        partition_by: list[str] | None = None,
        primary_key: list[str] | None = None,
        defaults: dict[str, Any] | None = None,
    ) -> None:
        for _, decl in columns:
            # Validate: one of the 5 reference types or a parseable Spark DDL
            # type (validation parity: pkg/schema/types.go:124-131).
            ColumnDef(_, decl).spark_type
        if name in self.catalog:
            raise ValueError(f"table '{name}' already exists")
        if name in self.views:
            # One namespace (round-13): a table silently shadowing a view
            # (tables resolve first) would flip query results without an
            # error anywhere.
            raise ValueError(f"'{name}' already exists as a view")
        declared = {n for n, _ in columns}
        for k in primary_key or []:
            if k not in declared:
                raise ValueError(f"PRIMARY KEY column '{k}' not in the table")
        meta = TableMeta(
            name=name,
            columns=self._coldefs(columns, defaults),
            partition_by=partition_by or [],
            primary_key=primary_key or [],
        )
        self._write_empty(meta)

    def _write_empty(self, meta: TableMeta, keep: int | None = None) -> None:
        """Commit an empty version of ``meta`` (a new table, TRUNCATE,
        plain CREATE OR REPLACE), written by the driver: one empty file
        carrying the schema, or none for a partitioned table (an
        unpartitioned part file beside later ``col=value/`` directories
        would corrupt partition discovery once it carried rows)."""
        empty = self._batch(meta.schema, [])
        self.store.overwrite(meta.name, empty, meta.partition_by, meta, keep)

    def _batch(
        self, schema: T.StructType, rows: list[dict[str, Any]]
    ) -> pa.Table | DataFrame:
        """Coerced rows under ``schema`` as a pyarrow Table the store
        writes itself; as a local DataFrame for Spark's writer when a
        column's type has no Parquet form pyarrow writes as Spark does
        (intervals, VARIANT, VOID)."""
        if _arrow_writable(schema):
            return _arrow_batch(schema, rows)
        return self.spark.createDataFrame(rows, schema)

    def set_default(self, name: str, column: str, value: Any) -> None:
        """ALTER TABLE ... ALTER COLUMN c SET DEFAULT <lit> — catalog-only
        metadata; the value coerces to the declared type NOW (a bad
        default fails the ALTER, not a later insert)."""
        meta = self.catalog.get(name)
        cols = []
        found = False
        for c in meta.columns:
            if c.name == column:
                cols.append(
                    ColumnDef(c.name, c.decl, _coerce(value, c.decl), True)
                )
                found = True
            else:
                cols.append(c)
        if not found:
            raise ValueError(f"no column '{column}' in '{name}'")
        self.catalog.update_table(dataclasses.replace(meta, columns=cols))

    def drop_default(self, name: str, column: str) -> None:
        """ALTER TABLE ... ALTER COLUMN c DROP DEFAULT — omitted inserts
        go back to NULL."""
        meta = self.catalog.get(name)
        cols = []
        found = False
        for c in meta.columns:
            if c.name == column:
                cols.append(ColumnDef(c.name, c.decl))
                found = True
            else:
                cols.append(c)
        if not found:
            raise ValueError(f"no column '{column}' in '{name}'")
        self.catalog.update_table(dataclasses.replace(meta, columns=cols))

    def _coldefs(
        self,
        columns: list[tuple[str, str]],
        defaults: dict[str, Any] | None,
    ) -> list[ColumnDef]:
        """Column definitions with DEFAULTs coerced to the declared type
        at CREATE time (a bad default fails the DDL, not the insert)."""
        defaults = defaults or {}
        unknown = set(defaults) - {n for n, _ in columns}
        if unknown:
            raise ValueError(f"DEFAULT for unknown column(s) {sorted(unknown)}")
        return [
            ColumnDef(n, t, _coerce(defaults[n], t), True)
            if n in defaults
            else ColumnDef(n, t)
            for n, t in columns
        ]

    def drop_table(self, name: str) -> None:
        if name not in self.catalog and name in self.views:
            raise ValueError(f"'{name}' is a view — use DROP VIEW")
        self.store.drop(name)

    def add_column(self, name: str, column: str, decl: str) -> None:
        """ALTER TABLE ADD COLUMN: catalog-only schema evolution. The store
        reads with the declared schema, so rows written before the ALTER
        surface the new column as NULL — the same missing-column tolerance
        the reference's projection has (P3, select.go:588-592), generalized
        into Delta-style additive evolution with ZERO file rewrites (the
        only sane shape at 100 TB: an ADD COLUMN that rewrote the table
        would be a full-corpus job)."""
        meta = self.catalog.get(name)
        if any(c.name == column for c in meta.columns):
            raise ValueError(f"column '{column}' already exists on '{name}'")
        ColumnDef(column, decl).spark_type  # validate the declared type
        self.catalog.update_table(
            dataclasses.replace(meta, columns=[*meta.columns, ColumnDef(column, decl)])
        )

    def drop_column(self, name: str, column: str) -> None:
        """ALTER TABLE DROP COLUMN: catalog-only — the read schema simply
        stops declaring the column (parquet readers ignore undeclared
        columns), so the bytes stay until the next copy-on-write rewrite
        compacts them away. Partition columns cannot be dropped."""
        meta = self.catalog.get(name)
        if column in meta.partition_by:
            raise ValueError(f"cannot drop partition column '{column}'")
        if not any(c.name == column for c in meta.columns):
            raise KeyError(f"column '{column}' does not exist on '{name}'")
        remaining = [c for c in meta.columns if c.name != column]
        if not remaining:
            raise ValueError("cannot drop the last column")
        self.catalog.update_table(dataclasses.replace(meta, columns=remaining))

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE old RENAME TO new: one catalog commit — the entry
        moves, its directory (and so its snapshots) stays. Refused while a
        materialized view or vector index pins the old name — their
        registries store the base-table name, and silently re-pointing (or
        orphaning) them would corrupt the next refresh."""
        deps = [
            f"materialized view '{n}'"
            for n, m in self.mviews._load().items()
            if m.get("base") == old
        ] + [
            f"vector index '{n}'"
            for n, m in self.vindexes._load().items()
            if m.get("table") == old
        ]
        if deps:
            raise ValueError(
                f"cannot rename '{old}': referenced by {', '.join(deps)}"
            )
        self.catalog.rename_table(old, new)

    def rename_column(self, table: str, old: str, new: str) -> None:
        """ALTER TABLE t RENAME COLUMN old TO new. Spark reads parquet
        columns BY NAME, so a catalog-only rename would silently read the
        column as NULL — this is a copy-on-write rewrite whose new version
        and renamed schema commit together (the same commit UPDATE
        rides). At 100 TB that is a full-table rewrite; engines that avoid
        it (Delta with column mapping) carry a name-indirection layer on
        every read — a trade we document rather than take."""
        meta = self.catalog.get(table)
        if old in meta.partition_by:
            raise ValueError(f"cannot rename partition column '{old}'")
        if not any(c.name == old for c in meta.columns):
            raise KeyError(f"column '{old}' does not exist on '{table}'")
        if any(c.name == new for c in meta.columns):
            raise ValueError(f"column '{new}' already exists on '{table}'")
        df = self.table(table).withColumnRenamed(old, new)
        columns = [
            dataclasses.replace(c, name=new) if c.name == old else c
            for c in meta.columns
        ]
        self.store.overwrite(
            table, df, meta.partition_by, dataclasses.replace(meta, columns=columns)
        )

    def truncate_table(self, name: str) -> None:
        """TRUNCATE: remove every row, keep schema + partitioning. An
        empty version committed — no scan of the old data (DELETE without
        WHERE would plan one); with snapshot retention on, the
        pre-truncate table retires as a version and stays
        time-travelable."""
        self._write_empty(self.catalog.get(name))

    def show_tables(self) -> list[str]:
        return self.catalog.show_tables()

    # ---- scans ----------------------------------------------------------

    def table(self, name: str) -> DataFrame:
        if name not in self.catalog and name in self.mviews:
            # Materialized views read like tables: finalized from the
            # stored partial-aggregate state, no base-table access.
            return self.mviews.read(name)
        meta = self.catalog.get(name)
        return self.store.read(name, meta.schema)

    def append_df(
        self, name: str, df: DataFrame, returning: bool = False
    ) -> int | tuple[int, DataFrame]:
        """Append a DataFrame to an existing table (columns are aligned to
        the declared schema by name). The append-only fast path — no
        copy-on-write rewrite, and materialized views over the table can
        refresh incrementally from just the new files. The row count rides
        the write as an Observation, so the source computes once.

        ``returning`` materializes the aligned batch eagerly
        (localCheckpoint) so the returned frame stays stable after the
        append adds files."""
        meta = self.catalog.get(name)
        aligned = df.select(
            *[F.col(c.name).cast(c.spark_type) for c in meta.columns]
        )
        with _guarded():
            if returning:
                aligned = aligned.localCheckpoint(eager=True)
            counted, obs = self._counted(aligned)
            self.store.append(name, counted, meta.partition_by)
        n = int(obs.get["rows"] or 0)
        return (n, aligned) if returning else n

    def register_views(self) -> None:
        """Expose every catalog table (and materialized view) as a temp
        view for the SQL surface."""
        for name in self.catalog.show_tables():
            self.table(name).createOrReplaceTempView(name)
        for name in self.mviews.names():
            self.mviews.read(name).createOrReplaceTempView(name)

    def sql(self, text: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(text)

    def ref_sql(self, text: str, weak_typing: bool = False):
        """Execute a statement, or a ';'-separated script whose last
        statement's result comes back (DuckDB's multi-statement
        convention; the split is string- and comment-aware), in the
        reference's SQL dialect (plans/refsql.py): drop-in for every query
        the reference accepts. ``weak_typing=True`` enables the
        reference's dynamic numeric/string comparison semantics for
        all-TEXT imported tables."""
        from .plans.refsql import RefSQL, split_statements

        stmts = split_statements(text)
        if not stmts:
            raise ValueError("empty statement")
        out = None
        for s in stmts:
            out = RefSQL(self, weak_typing=weak_typing).execute(s)
        return out

    def render_sql(self, text: str, weak_typing: bool = False) -> str:
        """``ref_sql`` rendered reference-style (functions/format.py), the
        path the REST server and the REPL share. A repeated read-only
        statement is answered from ``self.results`` until the next commit
        (results.py)."""
        key = (text.strip(), weak_typing)
        generation = self.catalog.generation
        hit = self.results.get(key, generation)
        if hit is not None:
            return hit
        clocks = self.results.clock_reads()
        result = self.ref_sql(text, weak_typing)
        rendered = render_statement_result(result)
        if (
            isinstance(result, DataFrame)
            and read_only(key[0])
            and self.results.clock_reads() == clocks
            and reusable(result, self.store.root)
        ):
            self.results.put(key, generation, rendered)
        return rendered

    # ---- DML (M1-M3) ----------------------------------------------------

    def insert_rows(self, name: str, rows: Iterable[dict[str, Any]]) -> int:
        """INSERT with partial column lists: missing columns become NULL
        (reference allows missing columns implicitly — the row map simply
        lacks them and projection emits NULL, select.go:588-592). The
        coerced batch is written by the driver, no Spark job, as one file
        that appears whole or not at all; a partitioned table gets a Spark
        write of the batch."""
        rows = list(rows)
        if rows:
            self._append(name, self.coerce_rows(name, rows))
        return len(rows)

    def insert_rows_returning(
        self, name: str, rows: list[dict[str, Any]]
    ) -> tuple[int, DataFrame]:
        """insert_rows + the coerced batch as a DataFrame (INSERT
        RETURNING): a local relation, stable after the append."""
        batch = self.coerce_rows(name, rows)
        if rows:
            self._append(name, batch)
        return len(rows), self._frame(name, batch)

    def _append(self, name: str, batch: pa.Table | DataFrame) -> None:
        partition_by = self.catalog.get(name).partition_by
        if partition_by:
            batch = self._frame(name, batch)
        self.store.append(name, batch, partition_by)

    def _frame(self, name: str, batch: pa.Table | DataFrame) -> DataFrame:
        """A coerced batch as a DataFrame; a Table becomes a local
        relation in the JVM, so using it runs no Python worker."""
        if isinstance(batch, DataFrame):
            return batch
        return self.spark.createDataFrame(batch, self.catalog.get(name).schema)

    def coerce_rows_df(self, name: str, rows: list[dict[str, Any]]) -> DataFrame:
        """The INSERT VALUES batch as a DataFrame, nothing written: ON
        CONFLICT resolves it against the table first."""
        return self._frame(name, self.coerce_rows(name, rows))

    def coerce_rows(
        self, name: str, rows: list[dict[str, Any]]
    ) -> pa.Table | DataFrame:
        """INSERT VALUES rows coerced to ``name``'s declared schema (an
        omitted column takes its DEFAULT, else NULL; an IMAGE resolves to
        its file; each value converts to its declared type) as the batch
        ``store.append`` writes (``_batch``)."""
        meta = self.catalog.get(name)
        declared = {c.name for c in meta.columns}
        coerced = []
        for row in rows:
            unknown = set(row) - declared
            if unknown:
                raise ValueError(f"unknown columns for '{name}': {sorted(unknown)}")
            out = {}
            for col in meta.columns:
                cname, decl = col.name, col.decl
                if cname in row:
                    val = row[cname]
                elif col.has_default:
                    # an explicit NULL stays NULL (DuckDB/ANSI)
                    val = col.default
                else:
                    val = None
                if decl.upper() == "IMAGE" and val is not None:
                    resolved = resolve_image(str(val), self.image_dir)
                    val = resolved if resolved is not None else str(val)
                try:
                    out[cname] = _coerce(val, decl)
                except ValueError as exc:
                    raise ValueError(
                        f"INSERT into '{name}': column '{cname}': {exc}"
                    ) from exc
            coerced.append(out)
        try:
            return self._batch(meta.schema, coerced)
        except (TypeError, pa.ArrowException) as exc:
            # A PySparkTypeError (a TypeError) must not escape the dialect
            # raw: name the table and the declared schema.
            raise ValueError(
                f"INSERT into '{name}': a value does not fit the declared "
                f"schema {meta.schema.simpleString()}: {exc}"
            ) from exc

    def _where_col(self, where: Column | str | None) -> Column | None:
        if where is None:
            return None
        return F.expr(where) if isinstance(where, str) else where

    def update(
        self,
        name: str,
        set_values: dict[str, Any],
        where: Column | str | None = None,
        returning: bool = False,
    ) -> int | tuple[int, DataFrame]:
        """UPDATE via copy-on-write: read the live version → conditional
        SET → commit the result as the next version. No WHERE ⇒ all rows
        (reference update.go:87-98). Returns the matched-row count.
        ``where`` may carry subquery Columns (the dialect's IN/ANY/scalar
        subqueries); Catalyst plans them inside the rewrite."""
        df = self.table(name)
        cond = self._where_col(where)
        # Materialize the predicate ONCE against pre-update values: a SET
        # column referenced by the WHERE must not change which rows later
        # SET columns apply to (SQL semantics). NULL predicate ⇒ no match.
        match = (
            F.coalesce(cond, F.lit(False)) if cond is not None else F.lit(True)
        )
        mcol = _helper(df.columns, "__match")
        df = df.withColumn(mcol, match)
        hit = F.col(mcol)
        return self._rewrite(
            name,
            df,
            hit,
            F.sum(F.when(hit, 1).otherwise(0)).alias("matched"),
            sets=set_values,
            returning=returning,
        )

    def delete(
        self,
        name: str,
        where: Column | str,
        returning: bool = False,
    ) -> int | tuple[int, DataFrame]:
        """DELETE requires a predicate — parity with the reference's safety
        guard ('DELETE without WHERE is not allowed', delete.go:33).
        ``where`` as in :meth:`update`."""
        if where is None:
            raise ValueError("DELETE without WHERE is not allowed for safety")
        df = self.table(name)
        # NULL predicate ⇒ row is NOT deleted (SQL: DELETE only where the
        # predicate is TRUE, not NULL). Projected into a helper column:
        # Spark rejects IN/EXISTS subqueries inside observe().
        dcol = _helper(df.columns, "__doomed")
        df = df.withColumn(
            dcol, F.coalesce(self._where_col(where), F.lit(False))
        )
        doomed = F.col(dcol)
        return self._rewrite(
            name,
            df,
            doomed,
            F.sum(F.when(doomed, 1).otherwise(0)).alias("doomed"),
            drop=doomed,
            returning=returning,
        )

    def merge(
        self,
        name: str,
        source: DataFrame,
        on: list[tuple[str, str]],
        *,
        update: dict[str, Any] | None = None,
        delete: bool = False,
        acting: Column | None = None,
        where: Column | None = None,
        insert: bool = False,
        delete_unmatched: Column | None = None,
        duplicate: str = "a target row matched multiple source rows",
        returning: bool = False,
    ) -> int | tuple[int, DataFrame]:
        """Keyed merge of ``source`` into table ``name`` in one
        copy-on-write rewrite: the plan behind MERGE, UPDATE ... FROM and
        INSERT ... ON CONFLICT DO UPDATE.

        ``on`` pairs (target column, source column) equality keys. Source
        rows with a NULL key match nothing (only ``insert`` sees them); the
        rest are grouped on the keys (row count + first row) and LEFT-joined to the
        target once, so every target row meets at most one group. SET
        values and ``where`` read target columns by name and source column
        ``c`` as ``__src_c``. Arms:

        * ``update``: ``{column: value}`` for matched target rows, each
          value read against the row's original values and cast to the
          declared type. A matched key with more than one acting source
          row raises ``ValueError(duplicate)`` from inside the write;
          source keys that match nothing never raise.
        * ``delete``: matched target rows are deleted.
        * ``acting``: a predicate over the source's own columns picking
          the rows the matched arm uses (MERGE's ``WHEN MATCHED AND``);
          ``where``: a predicate over the joined row that must also hold.
        * ``insert``: source rows whose keys match no target row are
          appended (anti-join; the source carries every target column).
        * ``delete_unmatched``: target rows no source row matches are
          deleted where this predicate over target columns holds (MERGE's
          ``WHEN NOT MATCHED BY SOURCE``).

        Returns the affected-row count (updated + deleted + inserted),
        counted on the write pass; ``returning`` adds the updated rows
        with their new values."""
        tgt = self.table(name)
        meta = self.catalog.get(name)
        renamed = [F.col(c).alias(f"__src_{c}") for c in source.columns]
        keyed = None
        for tc, sc in on:
            eq = F.col(tc) == F.col(f"__src_{sc}")
            keyed = eq if keyed is None else (keyed & eq)
        taken = tgt.columns + [f"__src_{c}" for c in source.columns]
        act, cnt, op = (_helper(taken, h) for h in ("__act", "__n", "__op"))

        if update is None and not delete and delete_unmatched is None:
            df = tgt.withColumn(op, F.lit(None).cast("string"))
        else:
            acted = F.lit(True) if acting is None else F.coalesce(
                acting, F.lit(False)
            )
            keys = [f"__src_{sc}" for _tc, sc in on]
            src = source.select(*renamed, acted.alias(act))
            for k in keys:
                src = src.filter(F.col(k).isNotNull())
            groups = src.groupBy(*keys).agg(
                F.count_if(F.col(act)).alias(cnt),
                *[
                    F.first(
                        F.when(F.col(act), F.col(c)), ignorenulls=True
                    ).alias(c)
                    for c in src.columns
                    if c not in keys and c != act
                ],
            )
            n = F.col(cnt)
            arm = F.coalesce(n > 0, F.lit(False))
            if where is not None:
                arm = arm & F.coalesce(where, F.lit(False))
            arms = []
            if update is not None:
                arms += [(n > 1, guard(duplicate)), (arm, F.lit("u"))]
            elif delete:
                arms.append((arm, F.lit("d")))
            if delete_unmatched is not None:
                gone = F.coalesce(delete_unmatched, F.lit(False))
                arms.append((n.isNull() & gone, F.lit("d")))
            case = F.when(*arms[0])
            for cond, value in arms[1:]:
                case = case.when(cond, value)
            df = tgt.join(groups, keyed, "left").withColumn(
                op, case.cast("string")
            )
        if insert:
            tkeys = tgt.select(*[tc for tc, _sc in on])
            fresh = source.select(*renamed).join(tkeys, keyed, "left_anti")
            fresh = fresh.select(
                *[
                    F.col(f"__src_{c.name}").cast(c.spark_type).alias(c.name)
                    for c in meta.columns
                ],
                F.lit("i").alias(op),
            )
            df = df.unionByName(fresh, allowMissingColumns=True)
        return self._rewrite(
            name,
            df,
            F.col(op) == "u",
            F.count(op).alias("affected"),
            sets=update,
            drop=F.col(op).eqNullSafe("d"),
            returning=returning,
            grows=insert,
        )

    def _rewrite(
        self,
        name: str,
        df: DataFrame,
        hit: Column,
        metric: Column,
        sets: dict[str, Any] | None = None,
        drop: Column | None = None,
        returning: bool = False,
        grows: bool = False,
    ) -> int | tuple[int, DataFrame]:
        """The copy-on-write step UPDATE, DELETE and MERGE share: ``df`` is
        the live table plus helper columns, ``hit`` marks the rows the
        statement changes and ``metric`` counts them — one Observation on
        the write pass, so the table is scanned once (the reference reads
        everything into memory and counts while rewriting, update.go:87-106).
        ``sets`` rewrites columns of hit rows; ``drop`` marks rows that
        leave the table; ``grows`` says the statement can add rows. The
        result commits as the next version, written by the driver when the
        table is small (:meth:`_driver_rewrite`), else by Spark's writer."""
        meta = self.catalog.get(name)
        declared = {c.name: c for c in meta.columns}
        for cname in sets or {}:
            if cname not in declared:
                raise ValueError(f"unknown SET column '{cname}'")
        obs = Observation()
        df = df.observe(obs, metric)
        if sets:
            # One select, not chained withColumn: every SET target evaluates
            # against the row's ORIGINAL values (standard SQL — ``SET a = b,
            # b = a`` swaps). Values may be plain literals (reference parity)
            # or Columns (expression SET, e.g. ``SET v = v + 1``).
            targets = {
                c: F.when(
                    hit,
                    (v if isinstance(v, Column) else F.lit(v)).cast(
                        declared[c].spark_type
                    ),
                ).otherwise(F.col(c))
                for c, v in sets.items()
            }
            df = df.select(
                *[
                    targets[c].alias(c) if c in targets else F.col(c)
                    for c in df.columns
                ]
            )
        cols = [F.col(c) for c in declared]
        ret: DataFrame | None = None
        with _guarded():
            if not grows and self._driver_rewrite(meta):
                # toArrow runs the job Spark's writer would: it fills obs
                # and raises any guard before anything is written. It
                # carries the keep and hit flags, so the kept rows and the
                # RETURNING rows are cut from the one Table it collects.
                flags = [] if drop is None else [(~drop).alias("__keep")]
                if returning:
                    flags.append(hit.alias("__hit"))
                table = df.select(*cols, *flags).toArrow()
                arrow_schema = to_arrow_schema(meta.schema)
                if returning:
                    hits = table.filter(table["__hit"]).select(list(declared))
                    ret = self.spark.createDataFrame(
                        hits.cast(arrow_schema), schema=meta.schema
                    )
                if drop is not None:
                    table = table.filter(table["__keep"])
                kept = table.select(list(declared)).cast(arrow_schema)
            else:
                if returning:
                    # RETURNING: the hit rows, materialized EAGERLY — the
                    # commit retires the old version's files, so a lazy
                    # frame over them would break after the write.
                    ret = df.filter(hit).select(*cols).localCheckpoint(eager=True)
                kept = (df if drop is None else df.filter(~drop)).select(*cols)
            self.store.overwrite(name, kept, meta.partition_by)
        n = next(iter(obs.get.values())) or 0
        return (n, ret) if returning else n

    def _driver_rewrite(self, meta: TableMeta) -> bool:
        """Whether a rewrite that adds no rows writes ``meta``'s next
        version from the driver (one pyarrow file) instead of through a
        Spark write job: the table is unpartitioned, pyarrow writes every
        column as Spark does, and its live data files total at most
        ``spark.sql.files.openCostInBytes``, Spark's cost of one file open
        and the smallest split it cuts, so one file is already the
        cheapest layout for the new version (tables.py)."""
        if meta.partition_by or not _arrow_writable(meta.schema):
            return False
        limit = self.spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        return self._parquet_file_stats(meta.name)[1] <= limit

    # ---- maintenance ------------------------------------------------------

    def compact(
        self,
        name: str,
        target_files: int | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> int:
        """Rewrite a table into ``target_files`` parquet files (default:
        sized from the table's current bytes at ``target_file_bytes`` per
        file — a 100 GB table compacts to ~800 files, a 1 KB table to 1,
        never to a hard-coded count). Append-heavy tables accumulate small
        files — the classic small-files problem that murders scan
        parallelism efficiency at scale; compaction is the standard
        maintenance pass. Returns the file count after compaction."""
        import math

        meta = self.catalog.get(name)
        df = self.table(name)
        if target_files is None:
            _, bytes_in = self._parquet_file_stats(name)
            target_files = max(1, math.ceil(bytes_in / target_file_bytes))
        if meta.partition_by:
            # Range-partition leading with the partition columns (so each
            # task holds a contiguous slice of mostly one disk partition and
            # the partitionBy writer doesn't fan out tasks x partitions),
            # salted with a deterministic row hash so one oversized
            # partition value can still split across several tasks — a
            # hash-on-pcols-only repartition caps parallelism at the
            # distinct-partition count and can never split a hot partition.
            data_cols = [c for c in df.columns if c not in meta.partition_by]
            salt = (
                F.xxhash64(*[F.col(c) for c in data_cols])
                if data_cols
                else F.lit(0)
            )
            df = (
                df.withColumn("_csalt", salt)
                .repartitionByRange(target_files, *meta.partition_by, "_csalt")
                .drop("_csalt")
            )
        else:
            df = df.coalesce(target_files)
        self.store.overwrite(name, df, meta.partition_by)
        return self._parquet_file_stats(name)[0]

    def _parquet_file_stats(self, name: str) -> tuple[int, int]:
        """(file count, total bytes) of a table's parquet files."""
        path = self.store.table_path(name)
        n = total = 0
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        continue  # pruned mid-walk — keep count and
                        # bytes consistent by skipping both
                    n += 1
        return n, total

    def optimize(
        self,
        name: str,
        zorder_cols: list[str],
        target_files: int | None = None,
        target_file_bytes: int = 128 << 20,
    ) -> int:
        """Compaction + z-order clustering: rewrite a table range-
        partitioned and sorted on the Morton key of ``zorder_cols``, so
        file- and row-group-level min/max statistics prune filters on any
        clustered column (the Delta/Iceberg OPTIMIZE ZORDER maintenance
        pass, via plain writers). Output file count is sized from the
        table's current bytes (``target_file_bytes`` per file) unless
        ``target_files`` pins it — a maintenance pass must never turn a
        small table into many tiny files. Returns the post-rewrite count."""
        import math

        from .operators.maintenance import cluster_by_zorder

        meta = self.catalog.get(name)
        df = self.table(name)
        if target_files is None:
            _, bytes_in = self._parquet_file_stats(name)
            target_files = max(1, math.ceil(bytes_in / target_file_bytes))
        # For a hive-partitioned table the range partitioning must lead with
        # the partition columns, or each of the target_files tasks re-splits
        # across every disk partition (file count ~ tasks x partitions and
        # per-file z-clustering destroyed).
        out = cluster_by_zorder(
            df, zorder_cols, target_files, partition_cols=meta.partition_by
        )
        self.store.overwrite(name, out, meta.partition_by)
        return self._parquet_file_stats(name)[0]

    def upsert(self, name: str, updates: DataFrame, keys: list[str]) -> None:
        """MERGE-style upsert: rows in ``updates`` replace rows with the
        same key; new keys are appended (emulated MERGE INTO: anti-join +
        union, then copy-on-write — the no-Delta pattern)."""
        from .operators.maintenance import merge_upsert

        current = self.table(name)
        merged = merge_upsert(current, updates.select(*current.columns), keys)
        self.store.overwrite(name, merged, self.catalog.get(name).partition_by)

    # ---- bucketing (scale: co-located, shuffle-free joins) ---------------

    def bucketize(
        self,
        name: str,
        num_buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
    ) -> str:
        """Materialize a bucketed copy of a table in the session catalog.

        Joins/aggregations between tables bucketed on the same key with the
        same bucket count plan WITHOUT a shuffle exchange — the Spark
        equivalent of co-located storage (verified in
        tests/test_plans.py::test_bucketed_join_is_shuffle_free). At cluster
        scale this is how repeated fact⋈fact joins avoid re-shuffling 100 TB
        per query; the registry records the bucket spec for plan audits.
        """
        bname = f"{name}__bucketed"
        # Idempotent across sessions: drop any previous catalog entry AND its
        # warehouse directory (an in-memory catalog forgets the table between
        # sessions but the managed location survives on disk).
        self.spark.sql(f"DROP TABLE IF EXISTS {bname}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        leftover = os.path.join(warehouse.removeprefix("file:"), bname)
        if os.path.isdir(leftover):
            import shutil

            shutil.rmtree(leftover, ignore_errors=True)
        writer = (
            self.table(name)
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(bname)
        return bname

    def bucketed_table(self, name: str) -> DataFrame:
        return self.spark.table(f"{name}__bucketed")

    # ---- ingestion (S7-S8) ----------------------------------------------

    def _register_ingested(
        self, name: str, df: DataFrame, partition_by: list[str] | None
    ) -> int:
        self._check_new(name)
        return self._write_frame(name, df, partition_by)

    def _check_new(self, name: str) -> None:
        if name in self.catalog:
            raise ValueError(f"table '{name}' already exists")
        if name in self.views:
            raise ValueError(f"'{name}' already exists as a view")

    @staticmethod
    def _frame_meta(
        name: str, df: DataFrame, partition_by: list[str] | None
    ) -> TableMeta:
        """A table whose declared schema is ``df``'s."""
        return TableMeta(
            name=name,
            columns=[
                ColumnDef(f.name, f.dataType.simpleString())
                for f in df.schema.fields
            ],
            partition_by=partition_by or [],
        )

    @staticmethod
    def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
        """``df`` counting its rows into an Observation as it runs."""
        obs = Observation()
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def _write_frame(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None,
        keep: int | None = None,
    ) -> int:
        """Commit ``df`` as the next version of ``name`` (a new table when
        there is none) with the schema taken from the frame. The catalog
        entry exists only once the write has finished, so a failed ingest
        leaves no phantom entry. The row count rides the write via an
        Observation — no second scan."""
        meta = self._frame_meta(name, df, partition_by)
        df, obs = self._counted(df)
        self.store.overwrite(name, df, meta.partition_by, meta, keep)
        return int(obs.get["rows"] or 0)

    def create_table_from(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """CTAS: materialize a DataFrame as a new engine table (declared
        schema from the frame; one distributed write)."""
        return self._register_ingested(name, df, partition_by)

    def replace_table_from(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> int:
        """Atomic ``CREATE OR REPLACE TABLE ... AS SELECT``: the result is
        written as a new version and commits together with its schema, so
        a failed SELECT or a failed write leaves the old table intact and
        readable. A self-referencing CTAS streams from the old version,
        which stays until the commit. REPLACE keeps drop+create history
        semantics: snapshots die with the old definition (a replaced table
        must not time-travel into pre-replace data whose schema may
        differ)."""
        if name not in self.catalog:
            return self._register_ingested(name, df, partition_by)
        return self._write_frame(name, df, partition_by, keep=0)

    def replace_table(
        self,
        name: str,
        columns: list[tuple[str, str]],
        partition_by: list[str] | None = None,
        primary_key: list[str] | None = None,
        defaults: dict[str, Any] | None = None,
    ) -> None:
        """Atomic plain ``CREATE OR REPLACE TABLE``: validate the whole new
        definition BEFORE touching the existing table, then commit an
        empty version under it — a bad column spec (or a failed write)
        leaves the old table as it was."""
        cols = [ColumnDef(n, t) for n, t in columns]
        for c in cols:
            c.spark_type  # raises on an unparseable declared type
        if name not in self.catalog:
            return self.create_table(
                name, columns, partition_by, primary_key, defaults
            )
        declared = {n for n, _ in columns}
        for k in primary_key or []:
            if k not in declared:
                raise ValueError(f"PRIMARY KEY column '{k}' not in the table")
        meta = TableMeta(
            name=name,
            columns=self._coldefs(columns, defaults),
            partition_by=partition_by or [],
            primary_key=primary_key or [],
        )
        self._write_empty(meta, keep=0)

    def ingest(
        self,
        path: str,
        name: str,
        fmt: str | None = None,
        *,
        schema=None,
        all_text: bool = False,
        partition_by: list[str] | None = None,
    ) -> int:
        """Create table ``name`` from a file, directory or glob in the
        format ``fmt`` spells, else the one ``path``'s extension names
        (sources/files.py). Parquet goes to ``ingest_parquet``. CSV and
        JSON Lines infer their types unless ``schema`` (a StructType or
        DDL string) declares them; ``all_text=True`` keeps every CSV
        column TEXT, as the reference's import does
        (pkg/importer/importer.go:37-52). One distributed read, no
        driver-side row loop."""
        fmt = files.named(fmt) if fmt else files.format_of(path)
        if fmt == "parquet":
            return self.ingest_parquet(path, name, partition_by)
        df = files.read(self.spark, path, fmt, schema, all_text)
        return self._register_ingested(name, df, partition_by)

    def ingest_parquet(
        self, path: str, name: str, partition_by: list[str] | None = None
    ) -> int:
        """Direct, native, typed Parquet ingestion — the capability the
        reference fakes by shelling out to parquet-tools / a pandas
        subprocess to round-trip through CSV, erasing all types
        (pkg/importer/importer.go:89-205).

        One regular file with no ``partition_by`` is adopted as it is: one
        no-op Spark pass reads every value (so a file Spark cannot read is
        refused here, not at the first query) and counts the rows, then
        the file is copied unchanged into the new table's first version.
        A directory, a glob or a partitioned ingest is rewritten by one
        distributed Spark write, the only path that lays files out
        again."""
        df = files.read(self.spark, path, "parquet")
        if partition_by or not os.path.isfile(path):
            return self._register_ingested(name, df, partition_by)
        self._check_new(name)
        meta = self._frame_meta(name, df, None)
        counted, obs = self._counted(df)
        counted.write.format("noop").mode("overwrite").save()
        self.store.overwrite(name, path, None, meta)
        return int(obs.get["rows"] or 0)

    def export_df(
        self,
        df: DataFrame,
        path: str,
        fmt: str = "parquet",
        partition_by: list[str] | None = None,
    ) -> int:
        """``COPY t TO 'path'`` and ``COPY (SELECT ...) TO 'path'``: write
        ``df`` out in the format ``fmt`` spells (sources/files.py), one
        file per partition. Returns the row count written. No forced
        ``coalesce(1)``: that would serialize a large export through one
        task. ``partition_by`` writes hive-layout subdirectories
        (``col=value/``) that later scans prune."""
        fmt = files.named(fmt)
        if partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise ValueError(f"unknown PARTITION BY column(s) {missing}")
        # The count rides the write pass, so the exported query runs once
        # and the count is exactly the rows written, even for a
        # nondeterministic source.
        counted, obs = self._counted(df)
        files.write(counted, path, fmt, partition_by)
        return int(obs.get["rows"] or 0)

    def export_database(self, path: str, fmt: str = "parquet") -> int:
        """``EXPORT DATABASE 'path' [FORMAT ...]`` (the DuckDB
        ops statement): every catalog table as one DISTRIBUTED write
        under ``<path>/tables/<name>/`` plus a ``manifest.json`` carrying
        the metadata files alone can't (declared types incl. IMAGE/
        DECIMAL, PARTITIONED BY layout, the declared PRIMARY KEY, and
        logical-view SQL text in creation order). Refuses a non-empty
        target. Returns total rows exported. Materialized views and
        vector indexes are derived state and deliberately excluded —
        they rebuild from their definitions (documented in DIALECT.md).

        Scale: one ``export_df`` job per table (fully parallel writes,
        counts ride the write pass as Observations); the manifest is
        metadata-only. The export is a portable snapshot a different
        engine root — or a different cluster — can IMPORT."""
        fmt = files.named(fmt)
        if os.path.exists(path) and os.listdir(path):
            raise ValueError(
                f"EXPORT DATABASE target '{path}' exists and is not empty"
            )
        os.makedirs(path, exist_ok=True)
        manifest: dict = {"format": fmt, "tables": {}, "views": []}
        total = 0
        for name in self.catalog.show_tables():
            meta = self.catalog.get(name)
            total += self.export_df(
                self.table(name), os.path.join(path, "tables", name), fmt
            )
            entry = meta.to_json()
            del entry["path"], entry["version"]  # storage state, not schema
            manifest["tables"][name] = entry
        manifest["views"] = [
            {"name": n, "sql": s} for n, s in self.views.items()
        ]
        manifest["macros"] = self.macros.items()  # creation order
        write_json_atomic(os.path.join(path, "manifest.json"), manifest)
        return total

    def import_database(self, path: str) -> int:
        """``IMPORT DATABASE 'path'``: rebuild every exported
        table (declared schema, partition layout, PRIMARY KEY) and replay
        the logical views in creation order. ALL names are
        collision-checked against tables/views/matviews BEFORE anything
        is created, so a clash refuses with the catalog untouched.
        Reads apply the manifest's declared schema explicitly (CSV/JSONL
        would otherwise re-infer and drift types). Returns rows loaded."""
        mpath = os.path.join(path, "manifest.json")
        if not os.path.exists(mpath):
            raise ValueError(f"no manifest.json under '{path}' — not an export")
        with open(mpath) as f:
            manifest = json.load(f)
        fmt = files.named(manifest.get("format", "parquet"))
        names = list(manifest["tables"]) + [
            v["name"] for v in manifest.get("views", [])
        ]
        for n in names:
            if n in self.catalog or n in self.views or n in self.mviews:
                raise ValueError(
                    f"IMPORT DATABASE: '{n}' already exists — refusing "
                    "(nothing was created)"
                )
        total = 0
        created_tables: list[str] = []
        created_views: list[str] = []
        created_macros: list[str] = []
        try:
            for name, entry in manifest["tables"].items():
                meta = TableMeta.from_json(name, entry)
                self.create_table(
                    name,
                    [(c.name, c.decl) for c in meta.columns],
                    partition_by=meta.partition_by,
                    primary_key=meta.primary_key,
                    defaults={
                        c.name: c.default
                        for c in meta.columns
                        if c.has_default
                    },
                )
                created_tables.append(name)
                src = os.path.join(path, "tables", name)
                df = files.read(self.spark, src, fmt, schema=meta.schema)
                total += self.append_df(name, df)
            for v in manifest.get("views", []):
                self.views.create(v["name"], v["sql"])
                created_views.append(v["name"])
            for m in manifest.get("macros", []):
                self.macros.define(
                    m["name"], m["params"], m["defaults"], m["body"],
                    m["table"], replace=False,
                )
                created_macros.append(m["name"])
        except Exception:
            # All-or-nothing: a mid-import failure (missing/corrupt data
            # dir, a view that no longer binds) must not leave a
            # half-imported catalog. Drop everything this call created,
            # newest-first, best-effort, then surface the real error.
            for m in reversed(created_macros):
                try:
                    self.macros.drop(m)
                except Exception:
                    pass
            for v in reversed(created_views):
                try:
                    self.views.drop(v)
                except Exception:
                    pass
            for tname in reversed(created_tables):
                try:
                    self.drop_table(tname)
                except Exception:
                    pass
            raise
        return total

    def summarize(
        self, name: str, columns: list[str] | None = None, exact: bool = True
    ) -> DataFrame:
        """SUMMARIZE t: per-column profile (counts, nulls, distinct,
        min/max, mean) — the DuckDB-SUMMARIZE companion to DESCRIBE's
        catalog-only listing. One aggregate job over the table;
        ``exact=False`` switches distinct counts to HLL++ for a single
        non-expanded pass (the 100 TB default)."""
        from .operators.profile import profile

        return profile(self.table(name), columns, exact_distinct=exact)

    def describe(self, name: str) -> list[tuple[str, str]]:
        """DESCRIBE t: (column, declared type) pairs plus partition info —
        read straight from the catalog, no data access."""
        meta = self.catalog.get(name)
        return [
            (
                c.name,
                c.decl.upper()
                + (" (partitioned)" if c.name in meta.partition_by else ""),
            )
            for c in meta.columns
        ]
