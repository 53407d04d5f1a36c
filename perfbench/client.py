"""The REST server under test and one keep-alive loopback client for it."""

from __future__ import annotations

import http.client
import json
import threading
import uuid


class RestClient:
    """One HTTP/1.1 connection reused for every request, as a chat client
    keeps its socket open between statements."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def _post(self, path: str, body: bytes, ctype: str) -> dict:
        self.conn.request("POST", path, body=body, headers={"Content-Type": ctype})
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            return {"success": False, "error": f"HTTP {resp.status}"}
        return json.loads(data)

    def query(self, sql: str) -> dict:
        return self._post("/api/query", json.dumps({"query": sql}).encode(), "application/json")

    def upload(self, table: str, filename: str, content: bytes) -> dict:
        boundary = uuid.uuid4().hex
        parts = [
            f"--{boundary}\r\nContent-Disposition: form-data; "
            f'name="table_name"\r\n\r\n{table}\r\n'.encode(),
            f"--{boundary}\r\nContent-Disposition: form-data; "
            f'name="file"; filename="{filename}"\r\n'
            "Content-Type: application/octet-stream\r\n\r\n".encode(),
            content,
            f"\r\n--{boundary}--\r\n".encode(),
        ]
        return self._post(
            "/api/upload", b"".join(parts), f"multipart/form-data; boundary={boundary}"
        )

    def close(self) -> None:
        self.conn.close()


class ServerUnderTest:
    """``server.make_server`` on a free loopback port, served from a thread."""

    def __init__(self, server_mod, engine):
        self.httpd = server_mod.make_server(engine, port=0)
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)
