"""Crash consistency of the one commit mechanism (tables.py, commit.py).

Each test builds on disk a state that a kill at one commit step leaves
behind, reopens the engine, and asserts that the table reads fully old or
fully new — data and schema together — and that nothing the catalog does
not reference survives. One test kills a real process inside the catalog
``os.replace`` of an UPDATE.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import subprocess
import sys
import textwrap

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)

ROWS = [{"a": 1, "b": "one"}, {"a": 2, "b": "two"}]


def _make(spark, root, keep_snapshots=0) -> Engine:
    e = Engine(spark, root, keep_snapshots=keep_snapshots)
    e.create_table("t", [("a", "INT"), ("b", "TEXT")])
    e.insert_rows("t", ROWS)
    return e


def _rows(e: Engine, name: str = "t") -> set[tuple]:
    return {tuple(r) for r in e.table(name).collect()}


def _assert_clean(e: Engine) -> None:
    """Only what the catalog references is on disk, and the old layout's
    side directories never appear."""
    root = e.store.root
    metas = [e.catalog.get(n) for n in e.show_tables()]
    assert sorted(os.listdir(os.path.join(root, "tables"))) == sorted(
        os.path.basename(m.path) for m in metas
    )
    for m in metas:
        on_disk = os.listdir(os.path.join(root, m.path))
        assert sorted(on_disk) == sorted(
            f"v{k}" for k in [*e.store.versions(m.name), m.version]
        )
    assert not glob.glob(os.path.join(root, ".*.tmp"))
    for gone in (".staging", ".trash", ".snapshots"):
        assert not os.path.exists(os.path.join(root, gone))


def _table_dir(e: Engine, name: str = "t") -> str:
    return os.path.dirname(e.store.table_path(name))


def test_uncommitted_rename_column_reads_old_schema(spark, tmp_path):
    """Kill after RENAME COLUMN wrote v1, before the catalog save: the old
    schema and the old data, never the old schema over renamed files."""
    root = str(tmp_path / "db")
    e = _make(spark, root, keep_snapshots=1)
    with open(os.path.join(root, "catalog.json")) as f:
        committed = f.read()
    e.rename_column("t", "b", "label")
    assert os.path.isdir(os.path.join(_table_dir(e), "v1"))
    with open(os.path.join(root, "catalog.json"), "w") as f:
        f.write(committed)  # the save never happened
    e2 = Engine(spark, root)
    assert e2.table("t").columns == ["a", "b"]
    assert _rows(e2) == {(1, "one"), (2, "two")}
    assert e2.catalog.get("t").version == 0
    _assert_clean(e2)


def test_partial_next_version_and_catalog_temp_file(spark, tmp_path):
    """Kill inside the catalog save of an UPDATE: v1 complete, the new
    catalog written to its temp file, ``catalog.json`` not yet replaced."""
    root = str(tmp_path / "db")
    e = _make(spark, root, keep_snapshots=1)
    catalog = os.path.join(root, "catalog.json")
    with open(catalog) as f:
        committed = f.read()
    e.update("t", {"b": "new"})
    os.replace(catalog, os.path.join(root, ".catalog.json.k1ll3d.tmp"))
    with open(catalog, "w") as f:
        f.write(committed)
    e2 = Engine(spark, root)
    assert _rows(e2) == {(1, "one"), (2, "two")}
    _assert_clean(e2)
    assert e2.store.versions("t") == []


def test_committed_version_with_retired_one_not_yet_deleted(spark, tmp_path):
    """Kill after the catalog save, before the retired version is deleted:
    reopening finishes the commit."""
    root = str(tmp_path / "db")
    e = _make(spark, root)
    v0 = e.store.table_path("t")
    shutil.copytree(v0, str(tmp_path / "v0"))
    e.update("t", {"b": "new"}, "a = 1")
    assert not os.path.exists(v0)
    shutil.copytree(str(tmp_path / "v0"), v0)  # the delete never happened
    e2 = Engine(spark, root)
    assert _rows(e2) == {(1, "new"), (2, "two")}
    assert e2.store.versions("t") == []
    _assert_clean(e2)


def test_dropped_table_directory_and_stage_dirs_removed(spark, tmp_path):
    """Kill after DROP committed, before its rmtree; a sink's stage
    directory; orphaned matview / vector-index artifacts and registry temp
    files: all unreferenced, all deleted on open, live data untouched."""
    root = str(tmp_path / "db")
    e = _make(spark, root)
    e.create_table("gone", [("x", "INT")])
    gone = _table_dir(e, "gone")
    shutil.copytree(gone, str(tmp_path / "gone"))
    e.drop_table("gone")
    shutil.copytree(str(tmp_path / "gone"), gone)
    stage = os.path.join(_table_dir(e), "_stage-0a1b2c3d-epoch-0")
    shutil.copytree(e.store.table_path("t"), stage)
    orphans = [
        os.path.join(root, "_matviews", "mv-0123456789ab"),
        os.path.join(root, "_vector_indexes", "ix-0123456789ab"),
    ]
    for d in orphans:
        os.makedirs(d)
    open(os.path.join(root, ".mvs.json.x.tmp"), "w").close()
    e2 = Engine(spark, root)
    assert e2.show_tables() == ["t"]
    assert _rows(e2) == {(1, "one"), (2, "two")}
    assert not os.path.exists(gone) and not os.path.exists(stage)
    assert not any(os.path.exists(d) for d in orphans)
    _assert_clean(e2)


def test_staged_insert_file_removed(spark, tmp_path):
    """Kill after a literal INSERT wrote its staged ``_insert-<uuid>``
    file, before the rename into the live version: the batch never
    appears, and reopening deletes the staged file."""
    root = str(tmp_path / "db")
    e = _make(spark, root)
    [live] = glob.glob(os.path.join(e.store.table_path("t"), "part-*.parquet"))[-1:]
    staged = os.path.join(_table_dir(e), "_insert-0123456789abcdef")
    shutil.copyfile(live, staged)  # a complete batch file, never renamed in
    e2 = Engine(spark, root)
    assert not os.path.exists(staged)
    assert _rows(e2) == {(1, "one"), (2, "two")}
    _assert_clean(e2)


_CHILD = textwrap.dedent(
    """
    import os, signal, sys
    sys.path.insert(0, {repo!r})
    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
        Engine, get_spark,
    )
    spark = get_spark(app_name="kill-in-commit", master="local[1]", shuffle_partitions=2)
    e = Engine(spark, {root!r})
    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == "catalog.json":
            os.kill(os.getpid(), signal.SIGKILL)
        return real_replace(src, dst)

    os.replace = replace
    e.update("t", {{"b": "new"}})
    """
)


def test_sigkill_inside_catalog_replace_during_update(spark, tmp_path):
    root = str(tmp_path / "db")
    _make(spark, root)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARKDB_DRIVER_MEM="512m")
    child = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=repo, root=root)],
        env=env, capture_output=True, timeout=300,
    )
    assert child.returncode == -signal.SIGKILL, child.stderr.decode()[-2000:]
    # killed mid-commit: the next version and the new catalog were written
    tdir = glob.glob(os.path.join(root, "tables", "t-*"))[0]
    assert sorted(os.listdir(tdir)) == ["v0", "v1"]
    assert glob.glob(os.path.join(root, ".catalog.json.*.tmp"))
    e = Engine(spark, root)
    assert _rows(e) == {(1, "one"), (2, "two")}
    _assert_clean(e)
    e.update("t", {"b": "new"})  # and the table takes the next commit
    assert _rows(e) == {(1, "new"), (2, "new")}
