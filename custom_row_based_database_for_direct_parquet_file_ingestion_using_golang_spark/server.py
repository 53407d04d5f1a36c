"""Web REST API — the reference's primary user entry point, Spark-backed.

Mirrors ``cmd/server/main.go:168-391`` (SURVEY.md §2 S9/X4/X5) over the
existing :class:`Engine` / RefSQL / NL stack, stdlib-only (``http.server`` —
no Flask in the sandbox):

=======================================  =====================================
Reference (cmd/server/main.go)           Here
=======================================  =====================================
``POST /api/query`` (:393-468)           RefSQL or NL→SQL via ``plans.nl``,
                                         fixed-width ``Result`` string +
                                         ``generatedSQL`` for NL mode
``GET /api/tables`` (:185-192)           catalog schema dump, same JSON shape
                                         (``{name, columns: [{name, type}]}``)
``POST /api/upload`` (:330-391)          multipart ``table_name`` + ``file``
                                         (.csv → all-TEXT import parity,
                                         .parquet → native typed ingest)
``/api/conversations[/{id}[/message]]``  JSON files under
(:194-328)                               ``<db_root>/conversations`` — same
                                         CRUD verbs, same message-pair append
``GET /`` + ``/static/*`` (:168-169)     chat frontend from the packaged
                                         ``web/`` dir (own implementation of
                                         the reference client, same API)
=======================================  =====================================

Responses use the reference's envelope: ``{"success": bool, ...}`` with
``error`` on failure — its web client (web/static/js/app.js) keys off
exactly these fields.

Concurrency: ``ThreadingHTTPServer`` serves each request on its own
thread, and one readers-writer lock per server (``_RWLock``, writer
preference) orders them, mirroring the reference's per-database RWMutex
(pkg/schema, storage.go). A read-only statement (``results.read_only``:
SELECT, FROM-first, VALUES, or a WITH list leading to one), its rendering
included, ``GET /api/tables`` and NL generation share the lock; every
other statement (DML, DDL, WITH ... INSERT/UPDATE/DELETE/MERGE, a
multi-statement script) and every upload holds it exclusively, because a
rewrite's commit deletes the retired version a concurrent scan could
still be reading. Conversation files take no part in it: each
load-modify-save holds the ``ConversationStore``'s own lock.

Usage::

    python -m custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server [db_root] [port]
"""

from __future__ import annotations

import email.parser
import email.policy
import json
import os
import re
import tempfile
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .commit import write_json_atomic
from .engine import Engine
from .plans import nl
from .results import read_only
from .sources import files

_MAX_UPLOAD = 64 << 20  # reference: r.ParseMultipartForm(64 << 20)


# -- conversation persistence (main.go:72-159) --------------------------------


class ConversationStore:
    """JSON-file-per-conversation store under ``<root>/conversations``,
    the reference's ``data/conversations`` layout (main.go:74,104-117).

    Thread-safety: ``ThreadingHTTPServer`` serves each request on its own
    thread, so every load-modify-save cycle must hold ``self.lock`` (an
    RLock — handlers wrap the cycle, store methods re-enter). Saves go
    through ``write_json_atomic`` so a reader or a crash never sees a
    half-written file."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "conversations")
        self.lock = threading.RLock()

    def _path(self, conv_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_-]+", conv_id):
            raise ValueError("bad conversation id")
        return os.path.join(self.dir, f"{conv_id}.json")

    def load(self, conv_id: str) -> dict:
        with self.lock:
            with open(self._path(conv_id), encoding="utf-8") as f:
                conv = json.load(f)
        if not isinstance(conv, dict):
            raise ValueError("corrupt conversation file")
        return conv

    def save(self, conv: dict) -> None:
        with self.lock:
            os.makedirs(self.dir, exist_ok=True)
            write_json_atomic(self._path(conv["id"]), conv)

    def delete(self, conv_id: str) -> None:
        with self.lock:  # a concurrent load-modify-save must not
            # interleave and resurrect the file after this remove
            try:
                os.remove(self._path(conv_id))
            except FileNotFoundError:
                pass  # reference ignores IsNotExist (main.go:320)

    def list_summaries(self) -> list[dict]:
        if not os.path.isdir(self.dir):
            return []
        out = []
        for fn in os.listdir(self.dir):
            if not fn.endswith(".json"):
                continue
            try:
                c = self.load(fn[: -len(".json")])
            except (OSError, ValueError):
                # one unreadable/corrupt file must not 500 the whole
                # listing (load raises ValueError on non-dict JSON too)
                continue
            out.append(
                {k: c.get(k) for k in ("id", "title", "createdAt", "updatedAt")}
            )
        # newest first, as the reference sorts (main.go:141-143)
        return sorted(out, key=lambda c: c["updatedAt"] or "", reverse=True)

    def new(self) -> dict:
        now = _now_iso()
        with self.lock:
            # ms timestamp (reference id shape, main.go:97) + a random
            # suffix: two same-millisecond creates must not share an id.
            conv_id = f"{int(time.time() * 1000)}-{os.urandom(3).hex()}"
            conv = {
                "id": conv_id,
                "title": "New Chat",
                "createdAt": now,
                "updatedAt": now,
                "messages": [],
            }
            self.save(conv)
        return conv


def _now_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def derive_title(msg: str, max_words: int = 8, max_len: int = 60) -> str:
    """Short title from the first user message (main.go:152-159)."""
    title = " ".join(msg.split()[:max_words])
    return title[: max_len - 3] + "…" if len(title) > max_len else title


# -- request handling ---------------------------------------------------------


def _run_ref_statement(engine: Engine, query: str) -> str:
    """Execute one RefSQL statement and render it (``Engine.render_sql``,
    shared with the CLI REPL)."""
    return engine.render_sql(query)


class _RWLock:
    """Readers-writer lock with writer preference — the server-side
    equivalent of the reference's per-database ``sync.RWMutex``
    (pkg/schema). Reads (SELECT render, NL generation) share; mutations
    are exclusive. Exclusion matters for reads too: a rewrite commits a new
    table version and then deletes the retired one (tables.py), so an
    unlocked concurrent scan of the old version can hit missing files."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False
        self._writers_waiting = 0

    @contextmanager
    def read_locked(self):
        with self._cond:
            while self._writer or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if self._readers == 0:
                    self._cond.notify_all()

    @contextmanager
    def write_locked(self):
        with self._cond:
            self._writers_waiting += 1
            try:
                while self._writer or self._readers:
                    self._cond.wait()
            except BaseException:
                # an exception mid-wait (thread interrupt, interpreter
                # shutdown) must not leak the waiting count — readers
                # would block on it forever
                self._writers_waiting -= 1
                self._cond.notify_all()
                raise
            self._writers_waiting -= 1
            self._writer = True
        try:
            yield
        finally:
            with self._cond:
                self._writer = False
                self._cond.notify_all()


def _table_from_sql(sql: str, tables: list[str]) -> str | None:
    """Catalog table a SQL statement targets. Prefers the FROM-clause
    name; falls back to a word-boundary scan. A bare substring test would
    let table 'order' shadow 'orders' in "... FROM orders"."""
    m = re.search(r"\bFROM\s+([A-Za-z_][A-Za-z0-9_]*)", sql, re.I)
    if m:
        for t in tables:
            if t.upper() == m.group(1).upper():
                return t
    for t in tables:
        if re.search(rf"\b{re.escape(t)}\b", sql, re.I):
            return t
    return None


class ApiHandler(BaseHTTPRequestHandler):
    # Bound by make_server():
    engine: Engine
    convs: ConversationStore
    rwlock: _RWLock

    protocol_version = "HTTP/1.1"
    # TCP_NODELAY on every accepted socket: a response goes out as a
    # headers write then a body write, and with Nagle on the body waits
    # for the client's delayed ACK of the headers (~40 ms per request on
    # a keep-alive connection).
    disable_nagle_algorithm = True
    # Per-connection socket timeout: an unsent request body (any declared
    # Content-Length with no bytes) must time out, not pin the thread
    # forever. socketserver applies this to the connection socket.
    timeout = 60

    # -- plumbing --

    def log_message(self, fmt, *args):  # quiet by default; tests capture codes
        pass

    def _json(self, payload: dict, status: int = 200) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        if self.close_connection:
            # tell the client up front (BaseHTTPRequestHandler never
            # auto-emits a Connection header) so it doesn't reuse a
            # socket the server is about to close
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(body)

    def _error(self, msg: str, status: int = 200) -> None:
        # Reference convention: handler-level failures are success:false
        # JSON with HTTP 200; only method/route misuse gets an HTTP error.
        self._json({"success": False, "error": msg}, status)

    def _consume_body(self) -> None:
        """Read (or drain) the request body exactly once, up front.

        HTTP/1.1 keep-alive reuses the connection: if a handler responds
        without reading the body, the unread bytes are parsed as the next
        request line and every subsequent request on the socket fails.
        Oversize bodies get a BOUNDED drain (up to 4x the cap, under the
        socket timeout) so a legitimately-too-big upload still receives
        its error response cleanly — closing with unread data in the
        kernel buffer RSTs the in-flight response. Beyond the drain bound
        (or a wall-clock deadline — a trickling sender must not pin the
        thread either) the connection closes instead."""
        try:
            length = max(0, int(self.headers.get("Content-Length") or 0))
        except ValueError:
            # Unparsable Content-Length: we can't know where this request's
            # body ends, so the socket can't be reused — read nothing and
            # force close; the handler still gets a clean empty body.
            self.close_connection = True
            self._raw_body: bytes | None = b""
            return
        if length > _MAX_UPLOAD:
            self.close_connection = True
            # short per-recv timeout for the drain only, PLUS a wall-clock
            # deadline: per-recv timeouts reset on every chunk, so a
            # slow-loris sender trickling 1 byte/s could otherwise hold the
            # thread for the whole bounded drain
            prev_timeout = self.connection.gettimeout()
            self.connection.settimeout(2.0)
            left = min(length, 4 * _MAX_UPLOAD)
            deadline = time.monotonic() + 10.0
            try:
                while left > 0 and time.monotonic() < deadline:
                    chunk = self.rfile.read(min(left, 1 << 20))
                    if not chunk:
                        break
                    left -= len(chunk)
            except OSError:
                pass  # timed out / reset mid-drain — close path anyway
            finally:
                self.connection.settimeout(prev_timeout)
            self._raw_body = None  # too-large sentinel
        else:
            self._raw_body = self.rfile.read(length)

    def _read_body(self) -> bytes:
        if not hasattr(self, "_raw_body"):
            self._consume_body()
        if self._raw_body is None:
            raise ValueError("request body too large")
        return self._raw_body

    def _body_json(self) -> dict:
        body = self._read_body()
        return json.loads(body) if body else {}

    # -- routing --

    # -- static frontend (reference: cmd/server/main.go:168-169 — a chat UI
    # served from web/, consuming the same /api endpoints) --

    _WEB_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "web")
    _CONTENT_TYPES = {
        ".html": "text/html; charset=utf-8",
        ".js": "text/javascript; charset=utf-8",
        ".css": "text/css; charset=utf-8",
        ".svg": "image/svg+xml",
        ".png": "image/png",
        ".ico": "image/x-icon",
    }

    def _serve_file(self, rel: str) -> None:
        """Serve one file from the packaged web/ directory. The realpath
        containment check rejects .. traversal and symlink escapes."""
        full = os.path.realpath(os.path.join(self._WEB_ROOT, rel))
        root = os.path.realpath(self._WEB_ROOT)
        if not full.startswith(root + os.sep) or not os.path.isfile(full):
            return self.send_error(404)
        with open(full, "rb") as f:
            body = f.read()
        ext = os.path.splitext(full)[1].lower()
        self.send_response(200)
        self.send_header(
            "Content-Type",
            self._CONTENT_TYPES.get(ext, "application/octet-stream"),
        )
        self.send_header("Content-Length", str(len(body)))
        if self.close_connection:
            self.send_header("Connection", "close")
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        self._consume_body()  # a GET with a body is legal HTTP; unread
        # bytes would desync the keep-alive socket just like POST
        # Route on the path component only: cache-busting/query params
        # (e.g. /static/js/app.js?v=2) must not 404 the static routes.
        path = self.path.split("?", 1)[0]
        if path in ("/", "/index.html"):
            return self._serve_file("index.html")
        if path.startswith("/static/"):
            return self._serve_file(
                os.path.join("static", path.removeprefix("/static/"))
            )
        if self.path == "/api/tables":
            return self.handle_tables()
        if self.path == "/api/conversations":
            return self._json(
                {"success": True, "conversations": self.convs.list_summaries()}
            )
        m = re.fullmatch(r"/api/conversations/([A-Za-z0-9_-]+)", self.path)
        if m:
            try:
                conv = self.convs.load(m.group(1))
            except (OSError, ValueError):
                return self._error("conversation not found")
            return self._json({"success": True, "conversation": conv})
        self.send_error(404)

    def do_POST(self):
        self._consume_body()
        if self.path == "/api/query":
            return self.handle_query()
        if self.path == "/api/upload":
            return self.handle_upload()
        if self.path == "/api/conversations":
            return self._json({"success": True, "conversation": self.convs.new()})
        m = re.fullmatch(r"/api/conversations/([A-Za-z0-9_-]+)/message", self.path)
        if m:
            return self.handle_append_message(m.group(1))
        self.send_error(404)

    def do_PATCH(self):
        self._consume_body()
        m = re.fullmatch(r"/api/conversations/([A-Za-z0-9_-]+)", self.path)
        if not m:
            return self.send_error(404)
        try:
            body = self._body_json()
        except (ValueError, json.JSONDecodeError):
            return self._error("bad request")
        title = (body.get("title") or "").strip()
        if not title:
            return self._error("bad request")
        with self.convs.lock:  # load-modify-save must be one atom
            try:
                conv = self.convs.load(m.group(1))
            except (OSError, ValueError):
                return self._error("conversation not found")
            conv["title"] = title
            conv["updatedAt"] = _now_iso()
            self.convs.save(conv)
        self._json({"success": True})

    def do_DELETE(self):
        self._consume_body()
        m = re.fullmatch(r"/api/conversations/([A-Za-z0-9_-]+)", self.path)
        if not m:
            return self.send_error(404)
        self.convs.delete(m.group(1))
        self._json({"success": True})

    # -- handlers --

    def handle_tables(self):
        # shared lock: show_tables + per-table catalog.get must see one
        # consistent catalog snapshot (a concurrent DROP between the two
        # would KeyError with no response)
        with self.rwlock.read_locked():
            tables = [
                {
                    "name": t,
                    "columns": [
                        {"name": c.name, "type": _ref_type(c.decl)}
                        for c in self.engine.catalog.get(t).columns
                    ],
                }
                for t in self.engine.show_tables()
            ]
        self._json({"success": True, "tables": tables})

    def handle_query(self):
        try:
            req = self._body_json()
        except (ValueError, json.JSONDecodeError):
            return self._error("invalid request")
        query = (req.get("query") or "").strip().rstrip(";").strip()
        if not query:
            return self._error("empty query")
        if req.get("isNatural") or nl.is_natural_language(query):
            # Generation first (catalog + 40-row value sampling — reads,
            # shared lock), THEN execute under the lock the generated verb
            # requires: NL can produce DML ("remove students with grade >
            # 90" → DELETE), which must be exclusive. Execution AND
            # rendering share one lock scope — ref_sql returns SELECT
            # DataFrames lazily, so the collect inside format_result is
            # part of the read.
            try:
                with self.rwlock.read_locked():
                    sql = nl.generate_sql(
                        self.engine,
                        query,
                        prev_table=self._prev_table(req.get("conversationId")),
                    )
            except Exception as ex:
                return self._error(str(ex))
            try:
                rendered = self._execute_rendered(sql)
            except Exception as ex:
                return self._json(
                    {"success": False, "error": str(ex), "generatedSQL": sql}
                )
            return self._json(
                {"success": True, "result": rendered, "generatedSQL": sql}
            )
        try:
            rendered = self._execute_rendered(query)
        except Exception as ex:
            return self._error(str(ex))
        self._json({"success": True, "result": rendered})

    def _execute_rendered(self, sql: str) -> str:
        """Run one RefSQL statement under the lock its kind requires:
        read-only statements share (concurrent reads), everything else is
        exclusive. Rendering stays inside the scope — a rewrite's commit
        deletes the retired version, which must never happen mid-collect."""
        scope = (
            self.rwlock.read_locked()
            if read_only(sql)
            else self.rwlock.write_locked()
        )
        with scope:
            return _run_ref_statement(self.engine, sql)

    def _prev_table(self, conv_id: str | None) -> str | None:
        """Table named in the conversation's most recent bot SQL — the
        reference's prevTable follow-up context (main.go:413-433): lets
        "among these, how many …" NL questions reuse the last table."""
        if not conv_id:
            return None
        try:
            conv = self.convs.load(conv_id)
        except (OSError, ValueError):
            return None
        tables = self.engine.show_tables()
        for msg in reversed(conv.get("messages", [])):
            sql = msg.get("sql") or ""
            if msg.get("role") == "bot" and sql:
                t = _table_from_sql(sql, tables)
                if t:
                    return t
        return None

    def handle_upload(self):
        ctype = self.headers.get("Content-Type") or ""
        if not ctype.startswith("multipart/form-data"):
            return self._error("failed to parse upload: expected multipart form")
        try:
            body = self._read_body()
        except ValueError as ex:
            return self._error(str(ex))
        fields = _parse_multipart(ctype, body)
        table = (fields.get("table_name") or (b"", ""))[1]
        if isinstance(table, bytes):
            table = table.decode()
        table = table.strip()
        if not table:
            return self._error("table_name is required")
        if "file" not in fields:
            return self._error("no file received")
        filename, content = fields["file"]
        try:
            ext = files.extension(filename or "")
        except ValueError as ex:
            return self._error(str(ex))
        if isinstance(content, str):
            content = content.encode()
        # Spark picks the decompressor from the suffix, so the temp file
        # keeps the compound one (.csv.gz).
        tmp = tempfile.NamedTemporaryFile(suffix=ext, delete=False)
        try:
            tmp.write(content)
            tmp.close()
            with self.rwlock.write_locked():
                # The reference's CSV import types every column TEXT
                # (importer.go:37-52); keep that parity on this surface.
                self.engine.ingest(tmp.name, table, all_text=True)
        except Exception as ex:
            return self._error(str(ex))
        finally:
            os.unlink(tmp.name)
        self._json(
            {
                "success": True,
                "result": f"Imported '{filename}' into table '{table}' successfully.",
            }
        )

    def handle_append_message(self, conv_id: str):
        # Body: { userText, botData: {success, result, error, generatedSQL} }
        try:
            body = self._body_json()
        except (ValueError, json.JSONDecodeError):
            return self._error("bad request")
        with self.convs.lock:  # load-modify-save must be one atom: two
            # concurrent appends would otherwise drop one message pair
            try:
                conv = self.convs.load(conv_id)
            except (OSError, ValueError):
                return self._error("conversation not found")
            now = _now_iso()
            user_text = body.get("userText") or ""
            bot = body.get("botData") or {}
            conv["messages"].append(
                {"role": "user", "text": user_text, "timestamp": now}
            )
            conv["messages"].append(
                {
                    "role": "bot",
                    "sql": bot.get("generatedSQL") or "",
                    "result": bot.get("result") or "",
                    "error": bot.get("error") or "",
                    "timestamp": now,
                }
            )
            if conv["title"] == "New Chat" and user_text:
                conv["title"] = derive_title(user_text)
            conv["updatedAt"] = now
            self.convs.save(conv)
        self._json({"success": True})


# Display mapping: ingested tables carry Spark type names in the catalog;
# the reference UI shows its own decl vocabulary (schema.DataType: TEXT/INT/
# FLOAT/BOOL). Engine-created tables already store reference decls.
_REF_TYPES = {
    "string": "TEXT",
    "varchar": "TEXT",
    "bigint": "INT",
    "int": "INT",
    "smallint": "INT",
    "tinyint": "INT",
    "double": "FLOAT",
    "float": "FLOAT",
    "decimal": "FLOAT",
    "boolean": "BOOL",
}


def _ref_type(decl: str) -> str:
    return _REF_TYPES.get(decl.lower(), decl.upper())


def _parse_multipart(content_type: str, body: bytes) -> dict[str, tuple[str, bytes | str]]:
    """Parse a multipart/form-data body → {field: (filename, content)}.

    stdlib ``email`` MIME parser (the documented replacement for the removed
    ``cgi.FieldStorage``); handles binary parts (parquet) untouched.
    """
    msg = email.parser.BytesParser(policy=email.policy.HTTP).parsebytes(
        b"Content-Type: " + content_type.encode() + b"\r\n\r\n" + body
    )
    fields: dict[str, tuple[str, bytes | str]] = {}
    if not msg.is_multipart():
        return fields
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if not name:
            continue
        fields[name] = (
            part.get_filename() or "",
            part.get_payload(decode=True) or b"",
        )
    return fields


def make_server(
    engine: Engine, port: int = 0, host: str = "127.0.0.1"
) -> ThreadingHTTPServer:
    """Build (without starting) the API server bound to ``engine``. Port 0
    picks a free port — ``server.server_address[1]`` has the real one."""
    handler = type(
        "BoundApiHandler",
        (ApiHandler,),
        {
            "engine": engine,
            "convs": ConversationStore(engine.catalog.root),
            "rwlock": _RWLock(),
        },
    )
    return ThreadingHTTPServer((host, port), handler)


def main() -> None:
    import sys

    from . import get_spark

    root = sys.argv[1] if len(sys.argv) > 1 else "./sparkdb_data"
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8082
    spark = get_spark(app_name="sparkdb-server")
    server = make_server(Engine(spark, root), port=port)
    print(f"sparkdb API at http://{server.server_address[0]}:{server.server_address[1]}")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.shutdown()
        spark.stop()


if __name__ == "__main__":
    main()
