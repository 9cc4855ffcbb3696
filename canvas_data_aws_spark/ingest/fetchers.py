"""Production fetchers for the sync engine's per-file worker body.

The reference worker (/root/reference/lambda/fetch-canvas-data-file.py:33-38)
streams the signed URL with ``requests.get(stream=True)`` and copies 8 MiB
chunks into a multipart S3 upload — bounded memory no matter the file size.
``http_fetcher`` is that worker re-expressed for the engine: stdlib
``urllib`` streaming (no extra dependency), the same 8 MiB chunk loop,
plus the two productionizations a long pull over a flaky network needs:

- **Retry with backoff** on transient errors (connection reset, 5xx,
  timeouts), capped attempts.
- **Resume**: progress lands in a hidden ``.{name}.part`` next to
  ``dest``; a retry re-requests only the missing suffix via an HTTP
  ``Range`` header when the server honors it (206), else restarts the
  stream. The leading dot keeps the staged bytes out of Spark's file index
  and out of ``reconciler.local_listing``, so no reader or mirror plan sees
  them. The final ``os.replace`` to ``dest`` is atomic, so the reconciler's
  idempotence guard (fetch-canvas-data-file.py:25-31) never sees a
  half-written file as done.

Fetchers are plain callables ``(url, dest) -> None`` with no shared mutable
state, so ``SyncEngine.apply``'s thread pool can run many at once
(``reconciler.apply_file`` is the per-file body that calls them).
"""

from __future__ import annotations

import http.client
import os
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Mapping

DEFAULT_CHUNK_BYTES = 8 * 1024 * 1024  # worker chunk-size parity (:20)

#: HTTP statuses worth retrying — transient server/gateway conditions.
RETRYABLE_STATUS = frozenset({408, 429, 500, 502, 503, 504})

#: Socket timeout of every request, API calls included.
TIMEOUT_S = 60.0


class FetchError(Exception):
    """Terminal fetch failure after exhausting retries."""


def staged_path(dest: str) -> str:
    """Where a partial download of ``dest`` is staged: a hidden
    ``.{name}.part`` next to it."""
    folder, name = os.path.split(dest)
    return os.path.join(folder, f".{name}.part")


def http_fetcher(
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    max_attempts: int = 4,
    backoff_s: float = 0.5,
    headers: Mapping[str, str] | Callable[[str], Mapping[str, str]] | None = None,
) -> Callable[[str, str], None]:
    """Streamed HTTP(S) download with retry/resume, bounded to one chunk of
    memory. Returns a ``(url, dest) -> None`` callable.

    ``headers`` attaches auth to every request: a static mapping, or a
    per-URL callable (e.g. ``partial(api_client.signed_headers, creds,
    "GET")``) for signed schemes — the secrets_resolution hand-off point.

    file:// URLs are handled too (urllib supports them), which keeps one
    code path for tests and production.
    """

    def fetch(url: str, dest: str) -> None:
        part = staged_path(dest)
        os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
        last_err: Exception | None = None
        for attempt in range(max_attempts):
            if attempt:
                time.sleep(backoff_s * (2 ** (attempt - 1)))
            offset = os.path.getsize(part) if os.path.exists(part) else 0
            req = urllib.request.Request(url)
            if headers:
                for k, v in (headers(url) if callable(headers) else headers).items():
                    req.add_header(k, v)
            if offset:
                req.add_header("Range", f"bytes={offset}-")
            try:
                with urllib.request.urlopen(req, timeout=TIMEOUT_S) as resp:
                    status = getattr(resp, "status", 200)
                    if offset and status != 206:
                        # server ignored Range: restart the stream from zero
                        offset = 0
                    clen = resp.headers.get("Content-Length") if resp.headers else None
                    mode = "ab" if offset else "wb"
                    written = 0
                    with open(part, mode) as out:
                        while True:
                            chunk = resp.read(chunk_bytes)
                            if not chunk:
                                break
                            out.write(chunk)
                            written += len(chunk)
                    # chunked reads return quiet EOF on a dropped connection —
                    # verify against the advertised length or the resume
                    # appends a suffix onto a silently-truncated body
                    if clen is not None and written < int(clen):
                        raise http.client.IncompleteRead(b"", int(clen) - written)
                os.replace(part, dest)  # atomic: never a half-file at dest
                return
            except urllib.error.HTTPError as e:
                last_err = e
                if e.code == 416 and offset:
                    # Range past EOF: the .part already holds the full body
                    os.replace(part, dest)
                    return
                if e.code not in RETRYABLE_STATUS:
                    break
            except (OSError, http.client.HTTPException) as e:
                # transient transport error (URLError, reset, timeout, or an
                # IncompleteRead mid-stream): retry, resuming
                last_err = e
        # Terminal failure: keep the .part so a later apply() retry continues
        # from the byte offset (it is length-verified against Content-Length
        # on the next attempt).
        raise FetchError(f"failed to fetch {url} after {max_attempts} attempts") from last_err

    return fetch
