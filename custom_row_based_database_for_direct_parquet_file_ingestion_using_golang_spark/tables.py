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

* append  = Spark's own file commit into the live ``v<N>`` — each
  executor writes its own part files; no global lock.
* rewrite = write ``v<N+1>`` beside the live version, commit data and
  schema together in one catalog save (temp file + fsync + ``os.replace``),
  then delete the versions past ``keep_snapshots``. A kill before the save
  leaves ``v<N>`` live; after it, ``v<N+1>``. Never a mix, never new files
  under the old schema.
* retired versions ``v<k>``, ``k < N``, are the time-travel snapshots
  (``versions``, ``read_version``, ``vacuum``).
* recovery: opening the store deletes what the catalog does not reference
  — table directories with no entry, and anything in a table directory
  other than ``v<N>`` and the retired versions kept — so every interrupted
  commit ends either done or undone.

One writer per engine root: a second engine opening the root recovers it,
deleting the first one's uncommitted writes.
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, TableMeta
from .commit import fresh_path, remove_path, remove_temp_files, remove_unreferenced


def _version_of(entry: str) -> int | None:
    return int(entry[1:]) if entry[:1] == "v" and entry[1:].isdigit() else None


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
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.table_path(name))

    def append(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        writer = df.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(name))

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: TableMeta | None = None,
        keep: int | None = None,
    ) -> None:
        """Copy-on-write rewrite (see module docstring): ``df`` becomes the
        next version and ``meta`` (default: the current metadata) its
        schema, in one catalog commit. A table not in the catalog is
        created in a fresh directory as ``v0``. ``keep`` overrides
        ``keep_snapshots`` for this commit (0 for CREATE OR REPLACE, whose
        history dies with the old definition)."""
        old = self.catalog.get(name) if meta is None or name in self.catalog else None
        if old is None:
            new = dataclasses.replace(meta, path=fresh_path("tables", name), version=0)
        else:
            new = dataclasses.replace(meta or old, path=old.path, version=old.version + 1)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(self._version_dir(new, new.version))
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

    def drop(self, name: str) -> None:
        """DROP: commit the catalog without the table, then delete its
        directory — snapshots die with it, and a recreated table gets a
        fresh directory."""
        remove_path(self._dir(self.catalog.drop_table(name)))

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
        return doomed

    def read_version(self, name: str, version: int, schema=None) -> DataFrame:
        """Time travel: read a retired version by number."""
        if version not in self.versions(name):
            raise KeyError(
                f"table '{name}' has no snapshot v{version}; available: {self.versions(name)}"
            )
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._version_dir(self.catalog.get(name), version))

    def _recover(self) -> None:
        remove_temp_files(self.root)
        metas = [self.catalog.get(n) for n in self.catalog.show_tables()]
        remove_unreferenced(self.tables_dir, {os.path.basename(m.path) for m in metas})
        for meta in metas:
            live = {f"v{k}" for k in range(meta.version + 1)}
            remove_unreferenced(self._dir(meta), live)
            self.vacuum(meta.name, self.keep_snapshots)
