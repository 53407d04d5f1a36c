"""The one commit mechanism: write new files under fresh names, then
atomically replace one JSON file that names them.

``write_json_atomic`` is the reference's durability step (temp file +
fsync + rename, ``pkg/storage/storage.go:290-306``): a reader or a crash
sees the old file or the new one, never a torn one. Everything a JSON file
names (a table version, a materialized view's state, a vector index) is
written before the save and deleted only after it, so the save is the
commit point, and whatever a kill leaves behind is unreferenced and safe
to delete on the next open (``remove_unreferenced``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid


def write_json_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON: ``mkstemp`` in the same
    directory (``os.replace`` must not cross filesystems), dump, flush,
    fsync, ``os.replace``."""
    directory, base = os.path.split(path)
    fd, tmp = tempfile.mkstemp(dir=directory or ".", prefix=f".{base}.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def remove_temp_files(directory: str) -> None:
    """Delete the temp files of ``write_json_atomic`` calls a kill cut
    short; the JSON files they were meant to replace are intact."""
    for entry in os.listdir(directory):
        if entry.startswith(".") and entry.endswith(".tmp"):
            os.unlink(os.path.join(directory, entry))


def remove_unreferenced(directory: str, live: set[str]) -> None:
    """Delete every entry of ``directory`` not named in ``live`` (entry
    names, so the same root opened through another path string matches)."""
    if not os.path.isdir(directory):
        return
    for entry in os.listdir(directory):
        if entry not in live:
            remove_path(os.path.join(directory, entry))


def remove_path(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.unlink(path)


def fresh_path(directory: str, name: str) -> str:
    """A path under ``directory`` no earlier write has used."""
    return os.path.join(directory, f"{name}-{uuid.uuid4().hex[:12]}")


class JsonRegistry:
    """A ``{name: entry}`` JSON file in the engine root (views, macros,
    materialized views, vector indexes). Every change rewrites the whole
    file through ``write_json_atomic``."""

    def __init__(self, engine, filename: str):
        self.engine = engine
        self.path = os.path.join(engine.store.root, filename)

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, meta: dict) -> None:
        write_json_atomic(self.path, meta)
        self.engine.catalog.committed()

    def names(self) -> list[str]:
        return sorted(self._load())

    def __contains__(self, name: str) -> bool:
        return name in self._load()


class ArtifactRegistry(JsonRegistry):
    """A registry whose entries each own one Parquet directory under
    ``<root>/<dirname>``, named by the entry's ``path``. The directory is
    written under a fresh name before the registry save that names it and
    the one it replaces is deleted after, so opening the registry can
    delete every directory no entry names."""

    def __init__(self, engine, filename: str, dirname: str):
        super().__init__(engine, filename)
        self.dir = os.path.join(engine.store.root, dirname)
        live = {os.path.basename(m["path"]) for m in self._load().values()}
        remove_unreferenced(self.dir, live)

    def _commit_artifact(self, meta: dict, name: str, write) -> None:
        """Run ``write(path)`` on a fresh path (it may fill in more of
        ``meta[name]``), then commit ``meta`` with ``meta[name]["path"]``
        naming it. A failure before the commit leaves nothing behind."""
        retired = meta[name].get("path")
        path = fresh_path(self.dir, name)
        try:
            write(path)
            meta[name]["path"] = path
            self._save(meta)
        except BaseException:
            remove_path(path)
            raise
        if retired:
            remove_path(retired)

    def _drop(self, meta: dict, name: str) -> None:
        retired = meta.pop(name)["path"]
        self._save(meta)
        remove_path(retired)
