"""REST façade tests: the reference's web surface (cmd/server/main.go:168-391)
exercised end-to-end over a live ThreadingHTTPServer — upload → ingest →
query round-trip, tables listing, NL mode, and conversation CRUD."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server import (
    make_server,
)


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    engine = Engine(spark, str(tmp_path_factory.mktemp("srv") / "db"))
    server = make_server(engine, port=0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()
    thread.join(timeout=5)


def _call(base, path, data=None, method=None, headers=None):
    req = urllib.request.Request(
        base + path,
        data=data,
        method=method or ("POST" if data is not None else "GET"),
        headers=headers or {"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _query(base, sql, **extra):
    return _call(base, "/api/query", json.dumps({"query": sql, **extra}).encode())


def _multipart(fields: dict[str, tuple[str | None, bytes]]) -> tuple[bytes, str]:
    boundary = "testboundary42"
    out = []
    for name, (filename, content) in fields.items():
        disp = f'form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        out += [
            f"--{boundary}\r\nContent-Disposition: {disp}\r\n\r\n".encode(),
            content,
            b"\r\n",
        ]
    out.append(f"--{boundary}--\r\n".encode())
    return b"".join(out), f"multipart/form-data; boundary={boundary}"


def test_query_ddl_dml_select_roundtrip(api):
    assert _query(api, "CREATE TABLE people (name TEXT, age INT)")["success"]
    ins = _query(api, "INSERT INTO people VALUES ('ada', 36)")
    assert ins["success"] and "1 row(s) affected" in ins["result"]
    _query(api, "INSERT INTO people VALUES ('bob', 17)")
    sel = _query(api, "SELECT name FROM people WHERE age > 18")
    assert sel["success"]
    assert "ada" in sel["result"] and "bob" not in sel["result"]


def test_query_error_is_success_false(api):
    resp = _query(api, "SELECT * FROM no_such_table")
    assert resp["success"] is False and resp["error"]


def test_empty_query_rejected(api):
    assert _query(api, "  ;")["success"] is False


def test_tables_lists_schema(api):
    _query(api, "CREATE TABLE sched (item TEXT, qty INT)")
    resp = _call(api, "/api/tables")
    assert resp["success"]
    by_name = {t["name"]: t for t in resp["tables"]}
    assert {"name": "item", "type": "TEXT"} in by_name["sched"]["columns"]


def test_upload_csv_all_text_then_query(api):
    body, ctype = _multipart(
        {
            "table_name": (None, b"grades"),
            "file": ("grades.csv", b"student,score\nada,91\nbob,55\n"),
        }
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    # CSV import types every column TEXT (reference importer.go:37-52):
    # dual-mode weak typing still compares '91' numerically.
    cols = {
        c["name"]: c["type"]
        for t in _call(api, "/api/tables")["tables"]
        if t["name"] == "grades"
        for c in t["columns"]
    }
    assert cols == {"student": "TEXT", "score": "TEXT"}
    sel = _query(api, "SELECT student FROM grades WHERE score > 80")
    assert sel["success"] and "ada" in sel["result"] and "bob" not in sel["result"]


def test_upload_parquet_native_types(api, sf_dir):
    with open(f"{sf_dir}/nation.parquet", "rb") as f:
        content = f.read()
    body, ctype = _multipart(
        {"table_name": (None, b"nation_up"), "file": ("nation.parquet", content)}
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    sel = _query(api, "SELECT COUNT(*) FROM nation_up")
    assert sel["success"] and "25" in sel["result"]


def test_upload_rejects_other_extensions(api):
    body, ctype = _multipart(
        {"table_name": (None, b"x"), "file": ("evil.exe", b"MZ\x90")}
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"] is False and "unsupported file type" in resp["error"]


def test_upload_jsonl_ingests_and_queries(api):
    body, ctype = _multipart(
        {
            "table_name": (None, b"jl"),
            "file": ("rows.jsonl", b'{"id": 1, "name": "ann"}\n{"id": 2, "name": "bob"}\n'),
        }
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    out = _query(api, "SELECT name FROM jl ORDER BY id")
    assert out["success"] and "ann" in out["result"] and "bob" in out["result"]


def test_natural_language_query_reports_generated_sql(api):
    _query(api, "CREATE TABLE students (name TEXT, grade INT)")
    _query(api, "INSERT INTO students VALUES ('eve', 95)")
    resp = _query(api, "show me all students", isNatural=True)
    assert resp["success"], resp
    assert resp["generatedSQL"].upper().startswith("SELECT")
    assert "eve" in resp["result"]


def test_nl_prev_table_context_from_conversation(api):
    # "among these, how many..." names no table; the reference resolves it
    # from the last bot SQL in the conversation (main.go:413-433).
    _query(api, "CREATE TABLE inventory (sku TEXT, stock INT)")
    _query(api, "INSERT INTO inventory VALUES ('a1', 5)")
    _query(api, "INSERT INTO inventory VALUES ('b2', 0)")
    conv = _call(api, "/api/conversations", b"{}")["conversation"]
    msg = {
        "userText": "show inventory",
        "botData": {"success": True, "result": "...", "generatedSQL": "SELECT * FROM inventory"},
    }
    _call(api, f"/api/conversations/{conv['id']}/message", json.dumps(msg).encode())
    resp = _query(
        api,
        "among these how many have stock more than 1",
        isNatural=True,
        conversationId=conv["id"],
    )
    assert resp["success"], resp
    assert "inventory" in resp["generatedSQL"]
    assert "1" in resp["result"]
    # Without the conversation, the same question has no matching table.
    bare = _query(api, "among these how many have stock more than 1", isNatural=True)
    assert bare["success"], bare  # 'stock' column keyword still matches...
    # ...so use a question with no table/column words at all:
    none = _query(api, "among these how many are left", isNatural=True)
    assert none["success"] is False


def test_conversation_crud_and_message_append(api):
    conv = _call(api, "/api/conversations", b"{}")["conversation"]
    cid = conv["id"]
    assert conv["title"] == "New Chat"
    msg = {
        "userText": "how many students are there in total right now",
        "botData": {"success": True, "result": "3", "generatedSQL": "SELECT COUNT(*) FROM students"},
    }
    assert _call(api, f"/api/conversations/{cid}/message", json.dumps(msg).encode())[
        "success"
    ]
    loaded = _call(api, f"/api/conversations/{cid}")["conversation"]
    assert [m["role"] for m in loaded["messages"]] == ["user", "bot"]
    assert loaded["messages"][1]["sql"] == "SELECT COUNT(*) FROM students"
    assert loaded["title"] == "how many students are there in total right"[:60]
    listed = _call(api, "/api/conversations")["conversations"]
    assert any(c["id"] == cid for c in listed)
    assert _call(api, f"/api/conversations/{cid}", method="PATCH",
                 data=json.dumps({"title": "renamed"}).encode())["success"]
    assert _call(api, f"/api/conversations/{cid}")["conversation"]["title"] == "renamed"
    assert _call(api, f"/api/conversations/{cid}", method="DELETE")["success"]
    assert _call(api, f"/api/conversations/{cid}")["success"] is False


def test_keep_alive_connection_survives_unread_bodies(api):
    # POST /api/conversations with a body the handler doesn't need: on a
    # keep-alive connection the unread bytes used to desync the next
    # request on the same socket.
    import http.client

    host = api.removeprefix("http://")
    conn = http.client.HTTPConnection(host, timeout=10)
    try:
        conn.request(
            "POST", "/api/conversations", body="{}",
            headers={"Content-Type": "application/json"},
        )
        r1 = conn.getresponse()
        d1 = json.loads(r1.read())
        assert d1["success"] is True
        # same socket — must parse cleanly as a fresh request
        conn.request("GET", "/api/tables")
        r2 = conn.getresponse()
        d2 = json.loads(r2.read())
        assert r2.status == 200 and d2["success"] is True
    finally:
        conn.close()


def test_accepted_sockets_disable_nagle(spark, tmp_path):
    """Responses go out as a headers write then a body write; with Nagle
    on, the body waits for the client's delayed ACK (~40 ms per keep-alive
    request). Every accepted socket must carry TCP_NODELAY."""
    import http.client
    import socket

    server = make_server(Engine(spark, str(tmp_path / "db")), port=0)
    seen = []

    class Probe(server.RequestHandlerClass):
        def handle(self):
            seen.append(
                self.connection.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
            )
            super().handle()

    server.RequestHandlerClass = Probe
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    conn = http.client.HTTPConnection("127.0.0.1", server.server_address[1], timeout=10)
    try:
        conn.request("GET", "/api/tables")
        assert conn.getresponse().read()
    finally:
        conn.close()
        server.shutdown()
        thread.join(timeout=5)
    assert seen and all(seen)


def test_rwlock_readers_share_writer_excludes():
    import threading as _t
    import time as _time

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server import (
        _RWLock,
    )

    lock = _RWLock()
    state = {"concurrent_readers": 0, "max_readers": 0, "writer_saw_readers": None}
    gate = _t.Barrier(2, timeout=5)
    both_inside = _t.Event()

    def reader():
        with lock.read_locked():
            state["concurrent_readers"] += 1
            state["max_readers"] = max(state["max_readers"], state["concurrent_readers"])
            gate.wait()  # both readers inside simultaneously → they share
            both_inside.set()
            _time.sleep(0.05)
            state["concurrent_readers"] -= 1

    readers = [_t.Thread(target=reader) for _ in range(2)]
    for t in readers:
        t.start()

    def writer():
        with lock.write_locked():
            state["writer_saw_readers"] = state["concurrent_readers"]

    # start the writer only once both readers hold the lock — writer
    # preference would otherwise let it queue first and block reader 2,
    # deadlocking the barrier (flaky scheduling-dependent failure)
    assert both_inside.wait(timeout=5)
    w = _t.Thread(target=writer)
    w.start()
    for t in readers:
        t.join(timeout=5)
    w.join(timeout=5)
    assert state["max_readers"] == 2  # readers shared
    assert state["writer_saw_readers"] == 0  # writer was exclusive


def test_oversize_body_rejected_without_draining(api):
    # Content-Length beyond the 64 MB cap: the server must respond with an
    # error and close the connection. The drain is BOUNDED (≤4× cap, 2s
    # per-recv timeout, 10s wall-clock deadline) — here no body bytes ever
    # arrive, so the drain hits its first recv timeout and the response
    # must still come back promptly instead of blocking on the declared
    # 1 TB body.
    import socket

    host, port = api.removeprefix("http://").split(":")
    s = socket.create_connection((host, int(port)), timeout=10)
    try:
        s.sendall(
            b"POST /api/query HTTP/1.1\r\n"
            b"Host: x\r\nContent-Type: application/json\r\n"
            b"Content-Length: 999999999999\r\n\r\n"
        )  # no body bytes follow — server must not block waiting for them
        s.settimeout(10)
        # read to EOF: proves the server responded AND closed the
        # connection instead of blocking on the declared 1 TB body
        data = b""
        while True:
            chunk = s.recv(65536)
            if not chunk:
                break
            data += chunk
        assert b'"success": false' in data, data
    finally:
        s.close()


def test_malformed_content_length_handled(api):
    # An unparsable Content-Length must not escape the handler as an
    # uncaught ValueError (dropped connection): the server reads no body,
    # responds, and closes the socket cleanly; a fresh connection works.
    import socket
    import urllib.request

    host, port = api.removeprefix("http://").split(":")
    s = socket.create_connection((host, int(port)), timeout=10)
    try:
        s.sendall(
            b"POST /api/query HTTP/1.1\r\n"
            b"Host: x\r\nContent-Type: application/json\r\n"
            b"Content-Length: abc\r\n\r\n"
        )
        s.settimeout(10)
        data = b""
        while True:
            chunk = s.recv(65536)
            if not chunk:
                break
            data += chunk
        assert data.startswith(b"HTTP/1."), data  # a real response came back
        assert b'"success": false' in data, data
    finally:
        s.close()
    # server still healthy afterwards
    with urllib.request.urlopen(api + "/api/tables", timeout=10) as r:
        assert json.loads(r.read())["success"] is True


def test_static_frontend_served(api):
    # The reference's front door: GET / returns the chat page, whose static
    # assets load and whose script drives /api/query — a browser pointed at
    # the server gets a working UI, not 404s.
    import urllib.request

    with urllib.request.urlopen(api + "/", timeout=10) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/html")
        page = r.read().decode()
    assert "/static/js/app.js" in page and "/static/css/style.css" in page
    with urllib.request.urlopen(api + "/static/js/app.js", timeout=10) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/javascript")
        js = r.read().decode()
    # the client must speak the reference envelope against the live API
    assert "/api/query" in js and "generatedSQL" in js
    with urllib.request.urlopen(api + "/static/css/style.css", timeout=10) as r:
        assert r.status == 200 and r.headers["Content-Type"].startswith("text/css")


def test_static_traversal_rejected(api):
    # ../ and absolute-path tricks must not escape the web root. Raw socket:
    # urllib would normalize the path before it ever reaches the server.
    import socket

    host, port = api.removeprefix("http://").split(":")
    for path in ("/static/../server.py", "/static/..%2f..%2fserver.py",
                 "/static//etc/passwd"):
        s = socket.create_connection((host, int(port)), timeout=10)
        try:
            s.sendall(
                f"GET {path} HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n".encode()
            )
            s.settimeout(10)
            data = b""
            while True:
                chunk = s.recv(65536)
                if not chunk:
                    break
                data += chunk
            assert b"404" in data.split(b"\r\n", 1)[0], (path, data[:200])
        finally:
            s.close()


def test_concurrent_queries_during_dml_and_upload(api):
    # Live-threaded stress over the RW lock: readers hammer SELECT COUNT(*)
    # while one writer inserts rows and another uploads CSVs into fresh
    # tables. Invariants: every response is clean JSON success; each
    # reader's observed count is monotone non-decreasing (appends only add
    # files — a torn/partial read would show a dip or a parse error); the
    # final count equals the rows written.
    import concurrent.futures
    import json as _json
    import urllib.request

    assert _query(api, "CREATE TABLE stress (tid INT, seq INT)")["success"]
    N_WRITES, N_READERS, N_READS = 10, 3, 8
    errors: list[str] = []

    def writer():
        for i in range(N_WRITES):
            r = _query(api, f"INSERT INTO stress VALUES (0, {i})")
            if not r.get("success"):
                errors.append(f"insert {i}: {r}")

    def uploader():
        for i in range(3):
            body, ctype = _multipart(
                {
                    "table_name": (None, f"up_stress_{i}".encode()),
                    "file": (f"s{i}.csv", b"a,b\n1,2\n3,4\n"),
                }
            )
            r = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
            if not r.get("success"):
                errors.append(f"upload {i}: {r}")

    def reader(tid):
        last = -1
        for _ in range(N_READS):
            r = _query(api, "SELECT COUNT(*) FROM stress")
            if not r.get("success"):
                errors.append(f"reader {tid}: {r}")
                return
            n = int(r["result"].splitlines()[-1].strip())
            if n < last:
                errors.append(f"reader {tid}: count went backwards {last}->{n}")
            if not 0 <= n <= N_WRITES:
                errors.append(f"reader {tid}: impossible count {n}")
            last = n

    with concurrent.futures.ThreadPoolExecutor(max_workers=N_READERS + 2) as ex:
        futs = [ex.submit(writer), ex.submit(uploader)]
        futs += [ex.submit(reader, t) for t in range(N_READERS)]
        for f in futs:
            f.result(timeout=180)
    assert errors == [], errors
    final = _query(api, "SELECT COUNT(*) FROM stress")
    assert int(final["result"].splitlines()[-1].strip()) == N_WRITES
    # uploaded tables all landed and are queryable
    with urllib.request.urlopen(api + "/api/tables", timeout=10) as r:
        names = {t["name"] for t in _json.loads(r.read())["tables"]}
    assert {f"up_stress_{i}" for i in range(3)} <= names


def test_static_serves_with_query_string(api):
    # cache-busting params (GET /static/js/app.js?v=2) must not 404
    import urllib.request

    with urllib.request.urlopen(api + "/static/js/app.js?v=2", timeout=10) as r:
        assert r.status == 200
    with urllib.request.urlopen(api + "/?utm=x", timeout=10) as r:
        assert r.status == 200 and r.headers["Content-Type"].startswith("text/html")


def test_upload_orc_ingests_and_queries(api, sf_dir, spark, tmp_path):
    # Build a single-file ORC payload from the nation fixture, upload it,
    # and query the ingested table through the API.
    import glob

    orc_dir = str(tmp_path / "nation_orc_up")
    spark.read.parquet(f"{sf_dir}/nation.parquet").coalesce(1).write.orc(orc_dir)
    orc_file = glob.glob(f"{orc_dir}/part-*.orc")[0]
    with open(orc_file, "rb") as f:
        content = f.read()
    body, ctype = _multipart(
        {"table_name": (None, b"nation_orc"), "file": ("nation.orc", content)}
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    sel = _query(api, "SELECT COUNT(*) FROM nation_orc")
    assert sel["success"] and "25" in sel["result"]


def test_query_api_round6_dialect_surface(api):
    # The REST surface executes the same dialect: set ops, EXISTS, IS
    # NULL, DISTINCT aggregates and SAMPLE all work through /api/query.
    r = _query(api, "CREATE TABLE r6 (id INT, grp TEXT)")
    assert r["success"], r
    for i, g in [(1, "a"), (2, "a"), (3, "b"), (4, None)]:
        gtxt = "NULL" if g is None else f"'{g}'"
        assert _query(api, f"INSERT INTO r6 (id, grp) VALUES ({i}, {gtxt})")["success"]
    out = _query(
        api,
        "SELECT id FROM r6 WHERE id <= 2 UNION SELECT id FROM r6 "
        "WHERE id >= 3 ORDER BY id LIMIT 10",
    )
    assert out["success"] and all(str(i) in out["result"] for i in (1, 2, 3, 4))
    out = _query(api, "SELECT COUNT(*) AS n FROM r6 WHERE grp IS NULL")
    assert out["success"] and "1" in out["result"]
    out = _query(api, "SELECT COUNT(DISTINCT grp) FROM r6")
    assert out["success"] and "count_distinct_grp" in out["result"]
    out = _query(
        api,
        "SELECT id FROM r6 WHERE id > (SELECT MIN(id) FROM r6) ORDER BY id",
    )
    assert out["success"] and "2" in out["result"]


def test_query_api_round7_dialect_surface(api):
    # Round-7 verbs through /api/query: MERGE INTO (the NL-vs-SQL sniff
    # must route it to SQL), GROUP BY ALL, and ORDER BY ordinals.
    assert _query(api, "CREATE TABLE r7 (id INT, grp TEXT, v INT)")["success"]
    assert _query(
        api, "INSERT INTO r7 VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)"
    )["success"]
    assert _query(api, "CREATE TABLE r7c (id INT, grp TEXT, v INT)")["success"]
    assert _query(api, "INSERT INTO r7c VALUES (2, 'a', 99), (9, 'c', 1)")[
        "success"
    ]
    out = _query(
        api,
        "MERGE INTO r7 USING r7c ON r7.id = r7c.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    assert out["success"] and "2" in out["result"], out
    out = _query(
        api,
        "SELECT grp, COUNT(*) AS n FROM r7 GROUP BY ALL ORDER BY 2 DESC, 1",
    )
    assert out["success"] and "a" in out["result"]
    out = _query(api, "SELECT id, v FROM r7 WHERE id = 2")
    assert out["success"] and "99" in out["result"]  # merge applied


def test_upload_gzipped_jsonl_and_csv(api):
    import gzip

    body, ctype = _multipart(
        {
            "table_name": (None, b"gzj"),
            "file": (
                "rows.jsonl.gz",
                gzip.compress(b'{"id": 1, "name": "ann"}\n{"id": 2, "name": "bob"}\n'),
            ),
        }
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    out = _query(api, "SELECT name FROM gzj ORDER BY id")
    assert out["success"] and "ann" in out["result"] and "bob" in out["result"]
    body, ctype = _multipart(
        {
            "table_name": (None, b"gzc"),
            "file": ("rows.csv.gz", gzip.compress(b"id,name\n1,ann\n2,bob\n")),
        }
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"], resp
    assert _query(api, "SELECT COUNT(*) FROM gzc")["success"]
    # A bare .gz without a recognized inner extension is refused.
    body, ctype = _multipart(
        {"table_name": (None, b"x"), "file": ("blob.bin.gz", b"\x1f\x8b")}
    )
    resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
    assert resp["success"] is False and "unsupported file type" in resp["error"]


def test_upload_pq_and_ndjson_gz_keep_their_types(api, sf_dir):
    """Every extension of the file-format table uploads: ``.pq`` is
    Parquet and ``.ndjson.gz`` gzipped JSON Lines, both typed; only CSV
    stays all TEXT."""
    import gzip

    with open(f"{sf_dir}/nation.parquet", "rb") as f:
        content = f.read()
    for table, filename, data in (
        ("nation_pq", "nation.pq", content),
        ("rows_nd", "rows.NDJSON.GZ", gzip.compress(b'{"id": 1}\n{"id": 2}\n')),
    ):
        body, ctype = _multipart(
            {"table_name": (None, table.encode()), "file": (filename, data)}
        )
        resp = _call(api, "/api/upload", body, headers={"Content-Type": ctype})
        assert resp["success"], resp
    assert "25" in _query(api, "SELECT COUNT(*) FROM nation_pq")["result"]
    assert "n_nationkey INT" in _query(api, "DESCRIBE nation_pq")["result"]
    assert "3" in _query(api, "SELECT SUM(id) FROM rows_nd")["result"]
    assert "id BIGINT" in _query(api, "DESCRIBE rows_nd")["result"]


def test_query_api_round9_dialect_surface(api, tmp_path_factory):
    """Round-9 verbs through /api/query: DISTINCT ON, correlated scalar
    subqueries, selector aggregates, and the snapshot DIFF all route as
    SQL (sniffer) and render through the web surface."""
    assert _query(api, "CREATE TABLE r9 (id INT, grp TEXT, v INT)")["success"]
    assert _query(
        api,
        "INSERT INTO r9 VALUES (1, 'a', 10), (2, 'a', 30), "
        "(3, 'b', 5), (4, 'b', 50)",
    )["success"]
    out = _query(
        api,
        "SELECT DISTINCT ON (grp) grp, id, v FROM r9 ORDER BY grp, v DESC, id",
    )
    assert out["success"] and "30" in out["result"] and "50" in out["result"]
    out = _query(
        api,
        "SELECT grp, ARG_MAX(id, v) AS hi FROM r9 GROUP BY grp ORDER BY grp",
    )
    assert out["success"] and "2" in out["result"] and "4" in out["result"]
    out = _query(
        api,
        "SELECT id FROM r9 AS o WHERE v > "
        "(SELECT AVG(i.v) FROM r9 AS i WHERE i.grp = o.grp) ORDER BY id",
    )
    assert out["success"] and "2" in out["result"] and "4" in out["result"]
    # snapshot diff renders (requires a snapshot-retaining engine — the
    # api fixture keeps none, so assert the clean error path instead)
    out = _query(api, "DIFF r9 FROM VERSION 0 TO CURRENT")
    assert "success" in out  # structured envelope either way, no 500


def test_round10_dialect_verbs_over_rest(api):
    """Round-10 verbs round-trip through the REST surface: VALUES
    (statement + join side), FROM-less SELECT, ::TYPE casts, and
    aggregate-wrapping expressions."""
    v = _query(api, "VALUES (1, 'a'), (2, 'b')")
    assert v["success"] and "a" in v["result"] and "b" in v["result"]
    f = _query(api, "SELECT 2 + 3 AS five")
    assert f["success"] and "5" in f["result"]
    assert _query(api, "CREATE TABLE m (k INT, v DOUBLE)")["success"]
    _query(api, "INSERT INTO m VALUES (0, 1.5)")
    _query(api, "INSERT INTO m VALUES (1, 2.5)")
    _query(api, "INSERT INTO m VALUES (0, 3.5)")
    c = _query(api, "SELECT v::BIGINT AS b FROM m WHERE k = 1")
    assert c["success"] and "2" in c["result"]
    j = _query(
        api,
        "SELECT d.label, round(AVG(v), 2) AS a FROM m "
        "JOIN (VALUES (0, 'even'), (1, 'odd')) AS d(k2, label) "
        "ON m.k = d.k2 GROUP BY d.label HAVING COUNT(*) > 1",
    )
    assert j["success"] and "even" in j["result"] and "odd" not in j["result"]


@pytest.mark.parametrize(
    "sql, lock",
    [
        ("WITH s AS (SELECT 1 AS a) SELECT a FROM s", "read"),
        ("FROM t", "read"),
        ("VALUES (1)", "read"),
        ("SELECT 1", "read"),
        ("WITH s AS (SELECT 1 AS k) DELETE FROM t WHERE k IN (SELECT k FROM s)",
         "write"),
        ("SELECT 1; DELETE FROM t", "write"),
        ("DROP TABLE t", "write"),
    ],
)
def test_statement_kind_chooses_the_lock(sql, lock):
    """Read-only statements (WITH ... SELECT, FROM-first and VALUES too)
    share the server's lock; a WITH list leading to DML, a script and
    every other statement take it exclusively."""
    from contextlib import contextmanager
    from types import SimpleNamespace

    from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.server import (
        ApiHandler,
    )

    taken = []

    class SpyLock:
        @contextmanager
        def read_locked(self):
            taken.append("read")
            yield

        @contextmanager
        def write_locked(self):
            taken.append("write")
            yield

    handler = SimpleNamespace(
        rwlock=SpyLock(),
        engine=SimpleNamespace(render_sql=lambda text: f"ran {text}"),
    )
    assert ApiHandler._execute_rendered(handler, sql) == f"ran {sql}"
    assert taken == [lock]
