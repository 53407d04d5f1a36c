"""Parquet table store: immutable version directories that one catalog
save commits.

Reference parity: the Go engine appends JSON rows to ``<table>.dat``
(``pkg/storage/storage.go:48-85``) and implements UPDATE/DELETE as
read-all → transform → temp-file → fsync → atomic rename
(``pkg/storage/storage.go:251-316``). Here the rename is the catalog's: a
table is a directory of Parquet versions, and ``catalog.json`` names the
live one. Layout under the engine root::

    catalog.json              {table: {path, version, columns, ...}}
    tables/<name>-<id>/       TableMeta.path, fixed when the table is created
        v0/ ... v<N>/         immutable Parquet data dirs; v<N> is live

* append  = new files in the live ``v<N>``. A batch the driver already
  holds (a pyarrow Table: literal INSERT rows) is written as one snappy
  Parquet file staged as ``_insert-<uuid>`` in the table directory and
  renamed in, so it appears whole or not at all. A DataFrame goes through
  Spark's own file commit: each executor writes its own part files, no
  global lock, and a reader during the commit can see some of them. The
  streaming sink's epoch commit (``append_prefixed``) is the other
  in-place write: staged files renamed into ``v<N>``.
* rewrite = write ``v<N+1>`` beside the live version (a Spark job, a
  driver-held Table, or an uploaded Parquet file copied in unchanged),
  commit data and schema together in one catalog save (temp file + fsync
  + ``os.replace``), then delete the versions past ``keep_snapshots``. A
  kill before the save leaves ``v<N>`` live; after it, ``v<N+1>``. Never
  a mix, never new files under the old schema. The engine hands a small
  table's UPDATE, DELETE or row-preserving MERGE result over as a Table
  (``Engine._driver_rewrite``: unpartitioned, pyarrow-writable, live data
  files at most ``spark.sql.files.openCostInBytes``). That is Spark's
  cost of one file open, and its planner never splits a file below it,
  so such a table is read by one task whatever its layout and one file
  is its cheapest form; a Spark write job would only add its fixed cost.
* a driver-held Table is written with the encodings Spark's writer
  picks where pyarrow can follow it: snappy, and a dictionary only for
  the columns parquet-mr keeps one for (``_dictionary_columns``).
  DECIMALs stay FIXED_LEN_BYTE_ARRAY (pyarrow 16 cannot store them as
  INT32/INT64 as Spark does), which any reader accepts.
* retired versions ``v<k>``, ``k < N``, are the time-travel snapshots
  (``versions``, ``read_version``, ``vacuum``).
* recovery: opening the store deletes what the catalog does not reference
  — table directories with no entry, and anything in a table directory
  other than ``v<N>`` and the retired versions kept — so every interrupted
  commit ends either done or undone.

Scans are reused until their files change. ``read`` and ``read_version``
keep one DataFrame per (table directory, version) and return it while the
schema asked for and the directory's write count are the ones it was
built under, so a repeated SELECT neither re-lists the version directory
nor re-plans the Parquet source. This is exact because only this store
changes a version directory's files. A rewrite, DDL, RENAME or DROP
changes the directory, version or schema and so misses by key. The two
in-place writes, ``append`` and ``append_prefixed``, raise the write count once
they finish, so a scan listed while one was in flight is never served
after it. Every write also evicts the directory's scans, so the cache
holds about one scan per live table plus the time-travel versions read
since the table's last write.

One writer per engine root: a second engine opening the root recovers it,
deleting the first one's uncommitted writes.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, TableMeta
from .commit import fresh_path, remove_path, remove_temp_files, remove_unreferenced


def _version_of(entry: str) -> int | None:
    return int(entry[1:]) if entry[:1] == "v" and entry[1:].isdigit() else None


def _part_name() -> str:
    return f"part-{uuid.uuid4().hex}.parquet"


def _dictionary_columns(table: pa.Table) -> list[str]:
    """The columns of ``table`` Spark's writer (parquet-mr) would store
    dictionary-encoded. parquet-mr drops the dictionary of a column whose
    first page comes out no smaller with it than as plain values
    (``FallbackValuesWriter``); pyarrow keeps every dictionary, which
    stores a near-unique column (keys, prices) about half again as large.
    The tables the driver writes fit parquet-mr's 1 MB first page about
    whole, so the rule is applied to each whole column. Booleans get no
    dictionary from either writer; nested columns keep pyarrow's."""
    keep = []
    for name, col in zip(table.column_names, table.columns):
        t = col.type
        if pa.types.is_nested(t):
            keep.append(name)
            continue
        n = len(col) - col.null_count
        if pa.types.is_boolean(t) or n == 0:
            continue
        distinct = pc.unique(col.drop_null())
        if t in (pa.string(), pa.large_string(), pa.binary(), pa.large_binary()):
            plain = pc.sum(pc.binary_length(col)).as_py() + 4 * n
            words = pc.sum(pc.binary_length(distinct)).as_py() + 4 * len(distinct)
        else:
            plain, words = n * t.byte_width, len(distinct) * t.byte_width
        index = n * max(len(distinct) - 1, 0).bit_length() // 8
        if words + index < plain:
            keep.append(name)
    return keep


def _write_table(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", use_dictionary=_dictionary_columns(table)
    )


#: What a write puts into a table: a Spark job's output, a batch the driver
#: holds, or (``overwrite`` only) the path of a Parquet file to copy in.
Data = DataFrame | pa.Table | str


class ParquetTableStore:
    """Versioned Parquet tables under an engine root, committed through
    ``catalog``. ``keep_snapshots`` retired versions stay readable per
    table (Delta-style time travel with bounded retention)."""

    def __init__(self, spark: SparkSession, catalog: Catalog, keep_snapshots: int = 0):
        self.spark = spark
        self.catalog = catalog
        self.root = catalog.root
        self.keep_snapshots = keep_snapshots
        self.tables_dir = os.path.join(self.root, "tables")
        os.makedirs(self.tables_dir, exist_ok=True)
        # (table dir, version) -> ((write count, schema), scan)
        self._scans: dict[tuple[str, int], tuple[tuple, DataFrame]] = {}
        # table dir -> writes finished into it; a scan stamped with an
        # older count is stale
        self._writes: dict[str, int] = {}
        self._recover()

    def _dir(self, meta: TableMeta) -> str:
        return os.path.join(self.root, meta.path)

    def _version_dir(self, meta: TableMeta, version: int) -> str:
        return os.path.join(self.root, meta.path, f"v{version}")

    def table_path(self, name: str) -> str:
        """The live version directory of ``name``."""
        meta = self.catalog.get(name)
        return self._version_dir(meta, meta.version)

    def read(self, name: str, schema=None) -> DataFrame:
        """The live version of ``name``, read under ``schema``."""
        meta = self.catalog.get(name)
        return self._scan(meta, meta.version, schema)

    def _scan(self, meta: TableMeta, version: int, schema) -> DataFrame:
        """The one reader: reuse the version's scan while its stamp holds
        (module docstring). The stamp is taken before the listing, so a
        write finishing during it makes the new scan stale at once."""
        key = (meta.path, version)
        stamp = (self._writes.get(meta.path, 0), schema)
        hit = self._scans.get(key)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(self._version_dir(meta, version))
        self._scans[key] = (stamp, df)
        return df

    def _wrote(self, meta: TableMeta) -> None:
        """A write into ``meta``'s directory finished: its scans are stale,
        and so is every result read before it (``Catalog.generation``)."""
        self._writes[meta.path] = self._writes.get(meta.path, 0) + 1
        self.catalog.committed()
        for key in list(self._scans):  # a copy: readers may add scans
            if key[0] == meta.path:
                self._scans.pop(key, None)

    def append(self, name: str, df: DataFrame | pa.Table, partition_by: list[str] | None = None) -> None:
        """Add ``df``'s rows to the live version in place (module
        docstring). A pyarrow Table needs an unpartitioned table."""
        meta = self.catalog.get(name)
        if isinstance(df, pa.Table):
            if partition_by or meta.partition_by:
                raise ValueError(f"table '{name}' is partitioned: append a DataFrame")
            stage = os.path.join(self._dir(meta), f"_insert-{uuid.uuid4().hex}")
            try:
                _write_table(df, stage)
                os.rename(stage, os.path.join(self._version_dir(meta, meta.version), _part_name()))
            except BaseException:
                remove_path(stage)
                raise
            self._wrote(meta)
            return
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(self._version_dir(meta, meta.version))
        finally:
            self._wrote(meta)

    def append_prefixed(self, name: str, df: DataFrame, prefix: str) -> None:
        """Append ``df`` as files named ``<prefix>part-<k>.parquet``,
        replacing every ``<prefix>*`` file an earlier attempt left anywhere
        in the live version's partition tree, so a retried write lands as
        this attempt's complete set, never a mix. ``df`` is first written
        to a hidden ``_stage-<prefix>`` directory inside the table
        directory (same filesystem, so the moves are renames; recovery
        deletes it if a kill leaves it), then each file is renamed in,
        keeping a partitioned stage's hive ``col=value/`` directories. Each
        rename is atomic; a reader during the moves can see part of the
        set."""
        meta = self.catalog.get(name)
        stage = os.path.join(self._dir(meta), f"_stage-{prefix}")
        writer = df.write.mode("overwrite")
        if meta.partition_by:
            writer = writer.partitionBy(*meta.partition_by)
        writer.parquet(stage)
        tdir = self._version_dir(meta, meta.version)
        try:
            for dirpath, _dirs, files in os.walk(tdir):
                for old in files:
                    if old.startswith(prefix):
                        os.remove(os.path.join(dirpath, old))
            k = 0
            for dirpath, dirs, files in os.walk(stage):
                dirs.sort()
                for f in sorted(files):
                    if not f.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(dirpath, stage)
                    dest = tdir if rel == "." else os.path.join(tdir, rel)
                    os.makedirs(dest, exist_ok=True)
                    os.rename(
                        os.path.join(dirpath, f),
                        os.path.join(dest, f"{prefix}part-{k:05d}.parquet"),
                    )
                    k += 1
        finally:
            self._wrote(meta)
        shutil.rmtree(stage, ignore_errors=True)

    def overwrite(
        self,
        name: str,
        df: Data,
        partition_by: list[str] | None = None,
        meta: TableMeta | None = None,
        keep: int | None = None,
    ) -> None:
        """Copy-on-write rewrite (see module docstring): ``df`` becomes the
        next version and ``meta`` (default: the current metadata) its
        schema, in one catalog commit. A table not in the catalog is
        created in a fresh directory as ``v0``. ``keep`` overrides
        ``keep_snapshots`` for this commit (0 for CREATE OR REPLACE, whose
        history dies with the old definition).

        ``df`` is a DataFrame, a pyarrow Table (one file; an empty Table
        under ``partition_by`` leaves the version empty) or the path of a
        Parquet file, copied in unchanged (unpartitioned only)."""
        old = self.catalog.get(name) if meta is None or name in self.catalog else None
        if old is None:
            new = dataclasses.replace(meta, path=fresh_path("tables", name), version=0)
        else:
            new = dataclasses.replace(meta or old, path=old.path, version=old.version + 1)
        try:
            self._fill(self._version_dir(new, new.version), df, partition_by)
            if old is None:
                self.catalog.add_table(new)
            else:
                self.catalog.update_table(new)
        except BaseException:
            # Nothing committed: the write is unreferenced garbage.
            remove_path(self._dir(new) if old is None else self._version_dir(new, new.version))
            raise
        if old is not None:
            self.vacuum(name, self.keep_snapshots if keep is None else keep)

    @staticmethod
    def _fill(path: str, df: Data, partition_by: list[str] | None) -> None:
        """Write ``df`` as the new version directory ``path``."""
        if isinstance(df, DataFrame):
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
            return
        if partition_by and not (isinstance(df, pa.Table) and df.num_rows == 0):
            raise ValueError("a partitioned version is written from a DataFrame")
        os.makedirs(path)
        if isinstance(df, pa.Table):
            if not partition_by:
                _write_table(df, os.path.join(path, _part_name()))
        else:
            shutil.copyfile(df, os.path.join(path, _part_name()))

    def drop(self, name: str) -> None:
        """DROP: commit the catalog without the table, then delete its
        directory — snapshots die with it, and a recreated table gets a
        fresh directory."""
        meta = self.catalog.drop_table(name)
        remove_path(self._dir(meta))
        self._wrote(meta)
        self._writes.pop(meta.path, None)

    # -- retention / time travel -----------------------------------------

    def versions(self, name: str) -> list[int]:
        """The retired versions of ``name`` still on disk."""
        meta = self.catalog.get(name)
        found = (_version_of(e) for e in os.listdir(self._dir(meta)))
        return sorted(k for k in found if k is not None and k < meta.version)

    def vacuum(self, name: str, keep: int = 0) -> list[int]:
        """Drop retired versions beyond the ``keep`` newest (the Delta-style
        VACUUM: reclaim history storage, keep recent time travel). Returns
        the removed version numbers. Versions are immutable, so removal is
        safe for any reader that already planned against a dropped version
        only until its scan starts — same contract as Delta's retention
        window."""
        if keep < 0:
            raise ValueError("keep must be >= 0")
        vs = self.versions(name)
        doomed = vs[: max(0, len(vs) - keep)]
        meta = self.catalog.get(name)
        for k in doomed:
            remove_path(self._version_dir(meta, k))
        self._wrote(meta)
        return doomed

    def read_version(self, name: str, version: int, schema=None) -> DataFrame:
        """Time travel: read a retired version by number."""
        if version not in self.versions(name):
            raise KeyError(
                f"table '{name}' has no snapshot v{version}; available: {self.versions(name)}"
            )
        return self._scan(self.catalog.get(name), version, schema)

    def _recover(self) -> None:
        remove_temp_files(self.root)
        metas = [self.catalog.get(n) for n in self.catalog.show_tables()]
        remove_unreferenced(self.tables_dir, {os.path.basename(m.path) for m in metas})
        for meta in metas:
            live = {f"v{k}" for k in range(meta.version + 1)}
            remove_unreferenced(self._dir(meta), live)
            self.vacuum(meta.name, self.keep_snapshots)
