"""HTTP fetcher tests: streamed download, retry on transient failure, and
Range-based resume — the engine's production counterpart of the reference
worker's requests.get(stream=True) + 8 MiB chunk loop
(fetch-canvas-data-file.py:33-38), exercised against a local HTTP server."""

from __future__ import annotations

import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from canvas_data_aws_spark.ingest.fetchers import FetchError, http_fetcher

BODY = b"0123456789abcdef" * 4096  # 64 KiB


class _Handler(BaseHTTPRequestHandler):
    """Serves the server's ``body`` (BODY by default) at /data. Behavior
    knobs live on the server object: fail_first_n (connection drops
    mid-stream), support_range; ``ranges`` records each Range header."""

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        srv = self.server
        if self.path == "/missing":
            self.send_error(404)
            return
        if self.path == "/flaky5xx" and srv.fail_first_n > 0:
            srv.fail_first_n -= 1
            self.send_error(503)
            return

        start = 0
        body = srv.body
        rng = self.headers.get("Range")
        srv.ranges.append(rng)
        if rng and srv.support_range:
            start = int(rng.split("=")[1].rstrip("-"))
            self.send_response(206)
            self.send_header("Content-Range", f"bytes {start}-{len(body)-1}/{len(body)}")
        else:
            self.send_response(200)
        chunk = body[start:]
        if self.path == "/truncate" and srv.fail_first_n > 0:
            srv.fail_first_n -= 1
            # advertise full length but drop the connection halfway:
            # the client sees IncompleteRead / short body and must retry
            self.send_header("Content-Length", str(len(chunk)))
            self.end_headers()
            self.wfile.write(chunk[: len(chunk) // 2])
            self.wfile.flush()
            self.connection.close()
            return
        self.send_header("Content-Length", str(len(chunk)))
        self.end_headers()
        self.wfile.write(chunk)


@pytest.fixture()
def http_srv():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.fail_first_n = 0
    srv.support_range = True
    srv.body = BODY
    srv.ranges = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


def _url(srv, path):
    return f"http://127.0.0.1:{srv.server_address[1]}{path}"


def _staged(dest):
    """Where the fetcher stages a partial download of ``dest``."""
    folder, name = os.path.split(dest)
    return os.path.join(folder, f".{name}.part")


def test_plain_download(http_srv, tmp_path):
    dest = str(tmp_path / "out.bin")
    http_fetcher(chunk_bytes=4096)(_url(http_srv, "/data"), dest)
    assert open(dest, "rb").read() == BODY
    assert not os.path.exists(_staged(dest))


def test_retry_on_5xx(http_srv, tmp_path):
    http_srv.fail_first_n = 2
    dest = str(tmp_path / "out.bin")
    http_fetcher(backoff_s=0.01)(_url(http_srv, "/flaky5xx"), dest)
    assert open(dest, "rb").read() == BODY


def test_resume_after_midstream_drop(http_srv, tmp_path):
    """First attempt dies halfway; the retry must send a Range header and
    append only the missing suffix."""
    http_srv.fail_first_n = 1
    dest = str(tmp_path / "out.bin")
    http_fetcher(chunk_bytes=1024, backoff_s=0.01)(_url(http_srv, "/truncate"), dest)
    assert open(dest, "rb").read() == BODY


def test_restart_when_server_ignores_range(http_srv, tmp_path):
    http_srv.fail_first_n = 1
    http_srv.support_range = False
    dest = str(tmp_path / "out.bin")
    http_fetcher(chunk_bytes=1024, backoff_s=0.01)(_url(http_srv, "/truncate"), dest)
    assert open(dest, "rb").read() == BODY


def test_terminal_404_raises_and_cleans_up(http_srv, tmp_path):
    dest = str(tmp_path / "out.bin")
    with pytest.raises(FetchError):
        http_fetcher(backoff_s=0.01)(_url(http_srv, "/missing"), dest)
    assert not os.path.exists(dest) and not os.path.exists(_staged(dest))


def test_retries_exhausted_raises(http_srv, tmp_path):
    http_srv.fail_first_n = 99
    dest = str(tmp_path / "out.bin")
    with pytest.raises(FetchError):
        http_fetcher(max_attempts=2, backoff_s=0.01)(_url(http_srv, "/flaky5xx"), dest)


def test_terminal_failure_keeps_part_for_cross_call_resume(http_srv, tmp_path):
    """Exhausting retries must NOT discard the staged .part —
    a later apply() retry continues from the byte offset instead of
    refetching the whole file."""
    http_srv.fail_first_n = 99
    dest = str(tmp_path / "out.bin")
    with pytest.raises(FetchError):
        http_fetcher(chunk_bytes=1024, max_attempts=2, backoff_s=0.01)(
            _url(http_srv, "/truncate"), dest
        )
    part = _staged(dest)
    assert os.path.exists(part) and 0 < os.path.getsize(part) < len(BODY)
    # the next call resumes from the kept offset and completes
    http_srv.fail_first_n = 0
    http_fetcher(chunk_bytes=1024, backoff_s=0.01)(_url(http_srv, "/truncate"), dest)
    assert open(dest, "rb").read() == BODY and not os.path.exists(part)


def test_file_url_single_code_path(tmp_path):
    src = tmp_path / "src.bin"
    src.write_bytes(BODY)
    dest = str(tmp_path / "dst.bin")
    http_fetcher()(f"file://{src}", dest)
    assert open(dest, "rb").read() == BODY


def test_staged_part_is_invisible_to_readers_and_mirror_plan(http_srv, spark, tmp_path):
    """A terminal mid-body failure leaves its partial download in the
    table's directory for resume. Readers must not parse it as rows, a
    mirror plan must neither list nor delete it, and the next run must
    resume from it."""
    import gzip
    import random

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine
    from canvas_data_aws_spark.sources.tsv import read_tsv_gzip

    rnd = random.Random(7)
    src = tmp_path / "good.tsv.gz"
    src.write_bytes(gzip.compress(b"".join(b"%d\tgood\n" % i for i in range(1000))))
    http_srv.body = gzip.compress(
        b"".join(b"%d\t%08x\n" % (i, rnd.getrandbits(32)) for i in range(1000, 3000))
    )
    http_srv.fail_first_n = 99
    rows = [
        {"table": "t", "filename": "good.tsv.gz", "url": f"file://{src}"},
        {"table": "t", "filename": "bad.tsv.gz", "url": _url(http_srv, "/truncate")},
    ]
    root = str(tmp_path / "lake")
    fetch = http_fetcher(chunk_bytes=1024, max_attempts=2, backoff_s=0)
    s1 = SyncEngine(root=root).apply(None, rows, fetch)
    assert s1.files_failed == 1
    table_dir = os.path.join(root, "raw_files", "t")
    (part,) = [os.path.join(table_dir, f) for f in os.listdir(table_dir) if f.endswith(".part")]
    staged = os.path.getsize(part)
    assert 0 < staged < len(http_srv.body)

    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    got = read_tsv_gzip(spark, table_dir, schema).collect()
    assert len(got) == 1000
    assert {(r["id"], r["name"]) for r in got} == {(i, "good") for i in range(1000)}

    plan = SyncEngine(root=root).plan(rows)
    assert {r.key: r.verdict for r in plan} == {
        "raw_files/t/good.tsv.gz": "skip",
        "raw_files/t/bad.tsv.gz": "fetch",
    }

    http_srv.fail_first_n = 0
    http_srv.ranges.clear()
    s2 = SyncEngine(root=root).apply(None, rows, fetch)
    assert (s2.files_failed, s2.files_removed) == (0, 0)
    assert http_srv.ranges == [f"bytes={staged}-"]
    assert open(os.path.join(table_dir, "bad.tsv.gz"), "rb").read() == http_srv.body
    assert not os.path.exists(part)


def test_mirror_apply_drops_stale_staged_parts(http_srv, tmp_path):
    """A staged download whose file left the remote manifest is deleted by
    a mirror apply, and only by one: dry runs and additive (dump) applies
    leave it. A staged download of a file still listed is kept, and its
    next fetch resumes from it with a Range request."""
    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    root = str(tmp_path / "lake")
    table_dir = os.path.join(root, "raw_files", "t")
    os.makedirs(table_dir)
    live = _staged(os.path.join(table_dir, "live.tsv.gz"))
    gone = _staged(os.path.join(table_dir, "gone.tsv.gz"))
    with open(live, "wb") as f:
        f.write(BODY[:1000])
    with open(gone, "wb") as f:
        f.write(b"junk")
    rows = [{"table": "t", "filename": "live.tsv.gz", "url": _url(http_srv, "/flaky5xx")}]
    fetch = http_fetcher(max_attempts=1, backoff_s=0)

    http_srv.fail_first_n = 99
    dry_run, dump = SyncEngine(root=root, dry_run=True), SyncEngine(root=root)
    for engine, additive in ((dry_run, False), (dump, True)):
        engine.apply(None, rows, fetch, additive=additive)
        assert os.path.exists(gone) and os.path.getsize(live) == 1000

    s = SyncEngine(root=root).apply(None, rows, fetch)
    assert (s.files_fetched, s.files_removed, s.files_failed) == (1, 0, 1)
    assert not os.path.exists(gone)
    assert os.path.getsize(live) == 1000

    http_srv.fail_first_n = 0
    http_srv.ranges.clear()
    s = SyncEngine(root=root).apply(None, rows, fetch)
    assert (s.files_fetched, s.files_removed, s.files_failed) == (1, 0, 0)
    assert http_srv.ranges == ["bytes=1000-"]
    assert open(os.path.join(table_dir, "live.tsv.gz"), "rb").read() == BODY
    assert os.listdir(table_dir) == ["live.tsv.gz"]
