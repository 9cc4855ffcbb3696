"""Loopback double of the Canvas Data portal.

Serves the API the engine's ``CanvasDataClient`` calls (schema, file sync
listing, dump listing, per-dump files) and the extract files themselves,
from an in-memory ``Extracts`` publication. Every request must carry a
valid ``HMACAuth`` signature, checked with the engine's own
``hmac_signature``; an unsigned or mis-signed request gets 401 and is
counted. Requests, bytes served and 206 range responses are counted per
file, so a run can tell a clean single-GET fetch from retries or resumes.

Requests are handled by a fixed pool of ``threads`` workers.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from canvas_data_aws_spark.ingest.api_client import hmac_signature

API_KEY = "bench-key"
API_SECRET = "bench-secret"


class PortalStats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.auth_failures = 0
            self.file_requests: Counter[str] = Counter()
            self.file_bytes: Counter[str] = Counter()
            self.partial_responses: Counter[str] = Counter()

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "auth_failures": self.auth_failures,
                "file_requests": sum(self.file_requests.values()),
                "files_requested": len(self.file_requests),
                "bytes_served": sum(self.file_bytes.values()),
                "partial_responses": sum(self.partial_responses.values()),
            }


class _PooledServer(HTTPServer):
    request_queue_size = 64

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="portal")

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — a dropped client must not kill the pool
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


class Portal:
    def __init__(self, extracts, threads: int) -> None:
        self.extracts = extracts
        self.stats = PortalStats()
        self.lock = threading.Lock()  # held while the publication changes
        handler = type("Handler", (_Handler,), {"portal": self})
        self.server = _PooledServer(("127.0.0.1", 0), handler, threads)
        self.base_url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> "Portal":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.server.pool.shutdown(wait=True)
        self.thread.join()

    def file_url(self, filename: str) -> str:
        return f"{self.base_url}/files/{filename}"

    # -- API documents ------------------------------------------------------

    def _file_entry(self, filename: str) -> dict:
        f = self.extracts.files[filename]
        return {"table": f.table, "filename": filename, "url": self.file_url(filename), "partial": False}

    def api(self, path: str, query: dict) -> object | None:
        ex = self.extracts
        if path.startswith("/api/schema/"):
            return {"version": f"v{ex.version}", "schema": ex.schema}
        if path == "/api/account/self/file/sync":
            return {
                "schemaVersion": f"v{ex.version}",
                "files": [self._file_entry(f) for f in ex.snapshot],
            }
        if path == "/api/account/self/dump":
            after = int(query.get("after", -1))
            return [
                {k: d[k] for k in ("dumpId", "sequence", "finished")} | {"numFiles": len(d["files"])}
                for d in ex.dumps
                if d["sequence"] > after
            ]
        if path.startswith("/api/account/self/file/byDump/"):
            dump_id = urllib.parse.unquote(path.rsplit("/", 1)[1])
            dump = next((d for d in ex.dumps if d["dumpId"] == dump_id), None)
            if dump is None:
                return None
            by_table: dict[str, dict] = {}
            for f in dump["files"]:
                entry = self._file_entry(f)
                by_table.setdefault(entry["table"], {"tableName": entry["table"], "files": []})[
                    "files"
                ].append({"filename": f, "url": entry["url"]})
            return {"dumpId": dump_id, "sequence": dump["sequence"], "artifactsByTable": by_table}
        return None


class _Handler(BaseHTTPRequestHandler):
    portal: Portal
    protocol_version = "HTTP/1.0"

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _authorized(self) -> bool:
        auth = self.headers.get("Authorization", "")
        date = self.headers.get("Date", "")
        if not auth.startswith("HMACAuth ") or ":" not in auth or not date:
            return False
        key, sig = auth[len("HMACAuth "):].split(":", 1)
        url = f"http://{self.headers.get('Host', '')}{self.path}"
        return key == API_KEY and sig == hmac_signature(API_SECRET, "GET", url, date)

    def _send(self, status: int, body: bytes, ctype: str, extra: dict | None = None) -> None:
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 — http.server API
        stats = self.portal.stats
        if not self._authorized():
            with stats.lock:
                stats.auth_failures += 1
            self._send(401, b"unauthorized", "text/plain")
            return
        parts = urllib.parse.urlsplit(self.path)
        if parts.path.startswith("/files/"):
            self._serve_file(parts.path[len("/files/"):])
            return
        with self.portal.lock:
            doc = self.portal.api(parts.path, dict(urllib.parse.parse_qsl(parts.query)))
        if doc is None:
            self._send(404, b"not found", "text/plain")
        else:
            self._send(200, json.dumps(doc).encode(), "application/json")

    def _serve_file(self, filename: str) -> None:
        with self.portal.lock:
            f = self.portal.extracts.files.get(filename)
        if f is None:
            self._send(404, b"not found", "text/plain")
            return
        body, status, extra = f.blob, 200, {}
        rng = self.headers.get("Range", "")
        if rng.startswith("bytes=") and rng.endswith("-"):
            start = int(rng[len("bytes="):-1])
            if start >= len(body):
                self._send(416, b"", "application/octet-stream")
                return
            status = 206
            extra = {"Content-Range": f"bytes {start}-{len(body) - 1}/{len(body)}"}
            body = body[start:]
        stats = self.portal.stats
        with stats.lock:
            stats.file_requests[filename] += 1
            stats.file_bytes[filename] += len(body)
            if status == 206:
                stats.partial_responses[filename] += 1
        self._send(status, body, "application/gzip", extra)
