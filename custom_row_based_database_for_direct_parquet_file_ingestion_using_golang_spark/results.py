"""Rendered results of repeated read-only statements, kept until the next
commit.

The REST server and the REPL render every statement through
``Engine.render_sql``. A repeat of a statement rendered before is answered
from ``ResultCache`` without tokenizing, building, analyzing or running
it. The key is the stripped statement text plus ``weak_typing``; the entry
is the rendered text plus ``Catalog.generation`` as read *before* the
statement was built. Every commit under the root raises the generation —
a catalog save (writes, DDL), a registry save (views, macros,
materialized views, vector indexes) and a table-file write (append,
streaming epoch, DROP, vacuum) — so it retires every entry, and a commit
that finishes while a statement runs leaves that statement's entry stale
at once. Errors are never kept.

Only a read-only statement (``read_only``: a single SELECT, FROM-first or
VALUES statement, or a WITH list leading to one) is kept, and only when its
plan gives the same answer on every run over the same files (``reusable``,
checked on a miss only):

* Catalyst reads the analyzed plan as deterministic (this refuses
  ``random()``, ``uuid()``, ``shuffle()``);
* no clock is read. Catalyst calls ``now()`` deterministic, and a bare
  ``CURRENT_DATE`` reaches the plan as a literal, so the plan is searched
  for clock expressions and the dialect front end counts the statements
  (views and macros expanded) that name a clock function
  (``ResultCache.note_clock_read``);
* nothing is sampled (a ``Sample`` node has a seed Catalyst calls
  deterministic, yet ``USING SAMPLE`` promises a fresh sample);
* every leaf, subqueries included, is a file relation under the engine
  root, a ``LocalRelation``, a ``Range`` or a ``OneRowRelation``. A direct
  read of a file outside the store or a ``localCheckpoint`` (``LogicalRDD``)
  is refused: nothing raises the generation when those change.

At most ``BOUND`` entries, least recently used out first, each at most
``format_result``'s 1000 rows. Exactness rests on one writer per root
(tables.py): a second process writing the same root does not raise this
engine's generation.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from py4j.protocol import Py4JError

BOUND = 64

#: Function names whose value depends on when the statement runs.
CLOCK_FUNCTIONS = frozenset({
    "now", "current_timestamp", "current_date", "current_time",
    "localtimestamp", "localtime", "today", "get_current_timestamp",
    "get_current_time", "transaction_timestamp",
})

#: A Catalyst expression that reads the clock, as a plan prints it.
_CLOCK_CALL = re.compile(
    r"\b(?:now|localtimestamp|current_(?:date|time|timestamp|batch_timestamp))\("
)
_SAMPLE = re.compile(r"^[ :|+-]*Sample ", re.M)
_CONSTANT_LEAVES = frozenset({"LocalRelation", "Range", "OneRowRelation"})
_FIRST_WORD = re.compile(r"\s*(\w+)")


def read_only(text: str) -> bool:
    """Whether ``text`` is one statement that only reads: SELECT, FROM-first
    or VALUES, or a WITH list leading to one of those. WITH ... INSERT /
    UPDATE / DELETE / MERGE, a script (any ';') and every other statement
    are not. The REST server shares its lock on this rule, and the cache
    keeps only such statements."""
    head = _FIRST_WORD.match(text)
    if head is None or ";" in text:
        return False
    verb = head.group(1).lower()
    if verb == "with":
        from .plans.refsql import with_leads_to

        verb = with_leads_to(text)
    return verb in ("select", "from", "values")


def _under(path: str, root: str) -> bool:
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return False
    return os.path.realpath(url.path).startswith(root + os.sep)


def _leaves_reusable(plan, root: str) -> bool:
    """Every leaf of ``plan`` is a constant relation or a file relation
    whose root paths lie under ``root`` (a few py4j calls per leaf)."""
    leaves = plan.collectLeaves()
    for i, text in enumerate(leaves.mkString("\0").split("\0")):
        kind = re.match(r"\w*", text).group()
        if kind == "Relation":  # LogicalRelation: a file source
            paths = leaves.apply(i).relation().location().rootPaths()
            if not all(_under(p, root) for p in paths.mkString("\0").split("\0")):
                return False
        elif kind not in _CONSTANT_LEAVES:
            return False
    return True


def reusable(df, root: str) -> bool:
    """Whether ``df`` gives the same rows on every run until the next
    commit under ``root`` (module docstring). The plan's text, printed
    with every field and with its subqueries, shows clock calls and
    samples; its leaves are walked through py4j."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if not plan.deterministic():
            return False
        text = plan.treeString(False, False, 1 << 30, False, False)
        if _CLOCK_CALL.search(text) or _SAMPLE.search(text):
            return False
        subs = plan.subqueriesAll()
        real = os.path.realpath(root)
        return all(
            _leaves_reusable(p, real)
            for p in [plan, *(subs.apply(i) for i in range(subs.length()))]
        )
    except Py4JError:  # a plan this cannot read is not kept
        return False


class ResultCache:
    """Rendered statement results of one generation (module docstring)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._generation = 0
        self._entries: OrderedDict[tuple, str] = OrderedDict()
        self._clock = threading.local()

    def note_clock_read(self) -> None:
        """Count a statement built in this thread that names a clock
        function: the statement being rendered is not kept."""
        self._clock.reads = self.clock_reads() + 1

    def clock_reads(self) -> int:
        return getattr(self._clock, "reads", 0)

    def get(self, key: tuple, generation: int) -> str | None:
        with self._lock:
            if generation != self._generation:
                return None
            text = self._entries.get(key)
            if text is not None:
                self._entries.move_to_end(key)
            return text

    def put(self, key: tuple, generation: int, text: str) -> None:
        """Keep ``text``, built from what ``generation`` names; entries of
        older generations are dropped, and a result older than the
        entries held is not kept."""
        with self._lock:
            if generation < self._generation:
                return
            if generation > self._generation:
                self._entries.clear()
                self._generation = generation
            self._entries[key] = text
            self._entries.move_to_end(key)
            if len(self._entries) > BOUND:
                self._entries.popitem(last=False)
