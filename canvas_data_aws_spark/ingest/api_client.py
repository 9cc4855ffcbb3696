"""Canvas Data 1 API client: the engine's own replacement for the
third-party SDK the reference delegates to.

The reference never speaks HTTP itself — it hands credentials to
``CanvasDataAPI`` and calls ``get_sync_file_urls()`` / ``get_schema()``
(/root/reference/lambda/sync-canvas-data-files.py:46-48,116). This module
implements those calls directly against the publicly documented Canvas
Data 1 REST API so the engine has no SDK dependency:

- ``GET /api/account/self/file/sync``  -> ``{"files": [{table, filename,
  url, ...}], "schemaVersion": ...}`` — the full-snapshot manifest the
  reconciler consumes (``SyncEngine.apply``).
- ``GET /api/schema/<version>``        -> ``{"version": ..., "schema":
  {table: {tableName, columns: [...]}}}`` — the type source for
  ``sources.schema.schema_registry`` / DDL.
- ``GET /api/account/self/dump``       -> dump listing (incremental mode).
- ``GET /api/account/self/file/byDump/<id>`` -> per-dump file manifest.

Every request is signed with the documented HMAC-SHA256 scheme: the
newline-joined message ``[method, host, content-type, content-md5, path,
alphabetized-query, date, api_secret]`` is MACed under the API secret and
presented as ``Authorization: HMACAuth <key>:<base64 sig>`` plus a matching
``Date`` header. The signature binds method+path+query+timestamp, so a
leaked request cannot be replayed elsewhere or later.

Scale/architecture notes: the API surface is metadata-only (file listings
and schema documents, a few MB at most), so the client is a plain
driver-side component — the actual data-plane transfer of the file URLs
it returns happens in ``SyncEngine.apply``'s fetch thread pool via
``http_fetcher``. Both callers (the ``sync`` verb and perfbench) sign those
downloads too, with ``partial(signed_headers, creds, "GET")``, and the
portal doubles in this repo check that signature. The reference worker
instead sends a plain ``requests.get`` of ``file_url``
(fetch-canvas-data-file.py:33) and relies on the URL's own pre-signature.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Mapping
from dataclasses import dataclass
from email.utils import formatdate
from typing import Any

from canvas_data_aws_spark.ingest.credentials import ApiCredentials
from canvas_data_aws_spark.ingest.fetchers import RETRYABLE_STATUS, TIMEOUT_S

DEFAULT_BASE_URL = "https://portal.inshosteddata.com"


class ApiError(Exception):
    """Terminal Canvas Data API failure (auth, 4xx, or retries exhausted)."""


def hmac_signature(
    secret: str,
    method: str,
    url: str,
    date: str,
    content_type: str = "",
    content_md5: str = "",
) -> str:
    """Base64 HMAC-SHA256 over the documented CD1 message: newline-joined
    ``[METHOD, host, content-type, content-md5, path, alphabetized query
    (k=v&...), date, secret]``, keyed by the API secret."""
    parts = urllib.parse.urlsplit(url)
    host = parts.netloc
    path = parts.path or "/"
    query = "&".join(
        f"{k}={v}"
        for k, v in sorted(urllib.parse.parse_qsl(parts.query, keep_blank_values=True))
    )
    message = "\n".join(
        [method.upper(), host, content_type, content_md5, path, query, date, secret]
    )
    mac = hmac.new(secret.encode(), message.encode(), hashlib.sha256)
    return base64.b64encode(mac.digest()).decode()


def signed_headers(
    creds: ApiCredentials, method: str, url: str, date: str | None = None
) -> dict[str, str]:
    """Request headers for one signed CD1 call: ``Authorization: HMACAuth
    <key>:<sig>`` plus the ``Date`` the signature covers."""
    date = date or formatdate(usegmt=True)
    sig = hmac_signature(creds.api_secret, method, url, date)
    return {"Authorization": f"HMACAuth {creds.api_key}:{sig}", "Date": date}


@dataclass
class CanvasDataClient:
    """Minimal, dependency-free CD1 API client.

    ``base_url`` is overridable so tests (and any self-hosted mirror) can
    point at a local fixture; production default is the public portal host.
    """

    creds: ApiCredentials
    base_url: str = DEFAULT_BASE_URL
    max_attempts: int = 4
    backoff_s: float = 0.5

    # -- endpoint surface (reference parity) --------------------------------

    def get_sync_file_urls(self) -> dict[str, Any]:
        """Full-snapshot manifest (``cd.get_sync_file_urls()``,
        sync-canvas-data-files.py:47): every file the lake should currently
        hold, each entry carrying ``table``/``filename``/``url``."""
        return self._get_json("/api/account/self/file/sync")

    def get_schema(self, version: str = "latest") -> dict[str, Any]:
        """Schema document keyed by table (``cd.get_schema()``,
        sync-canvas-data-files.py:116). The API wraps the table map in a
        ``schema`` field; unwrap so callers get the
        ``{table: {tableName, columns}}`` shape ``schema_registry`` eats."""
        doc = self._get_json(f"/api/schema/{urllib.parse.quote(version)}")
        return doc.get("schema", doc)

    def get_dumps(self, limit: int | None = None, after: int | None = None) -> list[dict]:
        """Dump listing (incremental-sync mode's discovery call)."""
        params: dict[str, Any] = {}
        if limit is not None:
            params["limit"] = limit
        if after is not None:
            params["after"] = after
        doc = self._get_json("/api/account/self/dump", params)
        return doc if isinstance(doc, list) else doc.get("dumps", [])

    def get_file_urls_for_dump(self, dump_id: str) -> dict[str, Any]:
        """Per-dump file manifest (incremental-sync mode's fetch list)."""
        return self._get_json(
            f"/api/account/self/file/byDump/{urllib.parse.quote(str(dump_id))}"
        )

    def sync_manifest_rows(self) -> list[dict]:
        """``get_sync_file_urls`` flattened to the reconciler's row shape —
        feeds ``SyncEngine.apply`` directly."""
        files = self.get_sync_file_urls().get("files", [])
        return [
            {"table": f["table"], "filename": f["filename"], "url": f.get("url")}
            for f in files
        ]

    def dump_manifest_rows(self, dump_id: str) -> list[dict]:
        """``get_file_urls_for_dump`` flattened to the reconciler's row
        shape. The byDump endpoint has shipped two documented shapes — a
        flat ``files`` list and a per-table ``artifactsByTable`` map — so
        accept both; feeds ``SyncEngine.sync_dumps``."""
        doc = self.get_file_urls_for_dump(dump_id)
        files = doc.get("files")
        if isinstance(files, list):
            return [
                {"table": f["table"], "filename": f["filename"], "url": f.get("url")}
                for f in files
            ]
        rows: list[dict] = []
        for table, artifact in sorted(doc.get("artifactsByTable", {}).items()):
            for f in artifact.get("files", []):
                rows.append(
                    {"table": table, "filename": f["filename"], "url": f.get("url")}
                )
        return rows

    # -- transport ----------------------------------------------------------

    def _get_json(self, path: str, params: Mapping[str, Any] | None = None) -> Any:
        url = self.base_url.rstrip("/") + path
        if params:
            url += "?" + urllib.parse.urlencode(sorted(params.items()))
        last_err: Exception | None = None
        for attempt in range(self.max_attempts):
            if attempt:
                time.sleep(self.backoff_s * (2 ** (attempt - 1)))
            req = urllib.request.Request(url)
            for k, v in signed_headers(self.creds, "GET", url).items():
                req.add_header(k, v)
            try:
                with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
                    return json.loads(resp.read().decode())
            except urllib.error.HTTPError as e:
                last_err = e
                if e.code not in RETRYABLE_STATUS:
                    raise ApiError(f"GET {path} failed: HTTP {e.code}") from e
            except OSError as e:
                last_err = e  # transient transport error (URLError, reset, timeout)
            except ValueError as e:
                raise ApiError(f"GET {path} returned non-JSON body") from e
        raise ApiError(
            f"GET {path} failed after {self.max_attempts} attempts"
        ) from last_err
