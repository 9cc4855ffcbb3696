"""Sync reconciler tests: the skip/fetch/delete verdict semantics of the
reference's diff loop (sync-canvas-data-files.py:58-112) over synthetic
manifests, plus apply/dry-run/idempotence behavior (SURVEY.md §5)."""

from __future__ import annotations

import os

from canvas_data_aws_spark.ingest.fetchers import http_fetcher
from canvas_data_aws_spark.ingest.reconciler import PlanRow, SyncEngine, apply_file


def _remote(*names):
    return [
        {"table": n.split("/")[0], "filename": n.split("/")[1], "url": f"file:///src/{n}"}
        for n in names
    ]


def _touch(root, *keys):
    for k in keys:
        p = os.path.join(root, "raw_files", k)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(f"data:{k}")


def test_verdicts(tmp_path):
    root = str(tmp_path)
    _touch(root, "users/a.gz", "users/b.gz", "courses/old.gz")
    plan = SyncEngine(root=root).plan(_remote("users/a.gz", "users/b.gz", "users/c.gz"))
    verdicts = {r.key: r.verdict for r in plan}
    assert verdicts == {
        "raw_files/users/a.gz": "skip",
        "raw_files/users/b.gz": "skip",
        "raw_files/users/c.gz": "fetch",
        "raw_files/courses/old.gz": "delete",
    }
    # key layout parity: raw_files/{table}/{filename} (sync-canvas-data-files.py:60)
    fetch = [r for r in plan if r.verdict == "fetch"][0]
    assert fetch.table == "users" and fetch.filename == "c.gz"


def test_apply_converges_to_mirror(spark, tmp_path):
    root = str(tmp_path / "lake")
    src = tmp_path / "srcdata"
    os.makedirs(src)
    (src / "c.gz").write_text("fresh-c")
    _touch(root, "users/a.gz", "courses/old.gz")

    remote = [
        {"table": "users", "filename": "a.gz", "url": "file:///nonexistent/a.gz"},  # skip: never fetched
        {"table": "users", "filename": "c.gz", "url": f"file://{src}/c.gz"},
    ]
    engine = SyncEngine(root=root)
    summary = engine.apply(spark, remote, http_fetcher())
    assert summary.as_dict() == {
        "total_files": 3,
        "files_fetched": 1,
        "files_skipped": 1,
        "files_removed": 1,
        "files_failed": 0,
        "files_remaining": 0,
        "dry_run": False,
    }
    assert open(os.path.join(root, "raw_files/users/c.gz")).read() == "fresh-c"
    assert not os.path.exists(os.path.join(root, "raw_files/courses/old.gz"))
    assert os.path.exists(os.path.join(root, "raw_files/users/a.gz"))

    # second run: converged state => everything skips, nothing changes
    summary2 = SyncEngine(root=root).apply(spark, remote, http_fetcher())
    assert summary2.files_fetched == 0
    assert summary2.files_skipped == 2
    assert summary2.files_removed == 0


def test_idempotence_guard_skips_existing(spark, tmp_path):
    """Double-dispatch race defused INSIDE the per-file body: a 'fetch'
    verdict whose destination already exists is skipped without calling the
    fetcher (fetch-canvas-data-file.py:25-31). Exercised directly on
    ``apply_file`` so the race (plan says fetch, file appears before the
    fetch runs) is reproducible."""
    root = str(tmp_path)
    _touch(root, "users/a.gz")
    original = open(os.path.join(root, "raw_files/users/a.gz")).read()

    def clobber(url, dest):
        open(dest, "w").write("CLOBBERED")

    def fetch_row(name, url):
        return PlanRow(f"raw_files/users/{name}", "users", name, url, "fetch")

    assert apply_file(root, fetch_row("a.gz", "file:///x"), clobber) == "skip (exists)"
    assert apply_file(root, fetch_row("new.gz", "file:///y"), clobber) == "fetched"
    # guard prevented the fetcher from running on the existing file
    assert open(os.path.join(root, "raw_files/users/a.gz")).read() == original
    assert open(os.path.join(root, "raw_files/users/new.gz")).read() == "CLOBBERED"

    # end-to-end: once a file exists, the plan verdicts it 'skip' so apply
    # never even dispatches it
    engine = SyncEngine(root=root)
    summary = engine.apply(
        spark,
        [{"table": "users", "filename": "a.gz", "url": "file:///x"}],
        clobber,
    )
    assert summary.files_skipped == 1 and summary.files_fetched == 0
    assert open(os.path.join(root, "raw_files/users/a.gz")).read() == original


def test_apply_bounds_fetch_concurrency(tmp_path):
    """The fetch fan-out is one driver-side pool of max_fetch_tasks x
    io_threads workers: fetches overlap, never more than that many run at
    once, and every file is fetched exactly once."""
    import threading
    import time
    from collections import Counter

    root = str(tmp_path / "lake")
    lock = threading.Lock()
    in_flight, peak, calls = 0, 0, Counter()

    def counting_fetcher(url, dest):
        nonlocal in_flight, peak
        with lock:
            in_flight += 1
            peak = max(peak, in_flight)
            calls[url] += 1
        time.sleep(0.01)
        open(dest, "w").write(url)
        with lock:
            in_flight -= 1

    remote = [
        {"table": "users", "filename": f"f{i}.gz", "url": f"noop://f{i}"} for i in range(40)
    ]
    engine = SyncEngine(root=root, max_fetch_tasks=3, io_threads=2)
    summary = engine.apply(None, remote, counting_fetcher)
    assert summary.files_fetched == 40 and summary.files_failed == 0
    assert 1 < peak <= 3 * 2
    assert calls == Counter({r["url"]: 1 for r in remote})
    for r in remote:
        assert open(os.path.join(root, "raw_files/users", r["filename"])).read() == r["url"]
    assert len(engine.log) == 40 and all(l.startswith("fetched:") for l in engine.log)


def test_dry_run_no_side_effects(spark, tmp_path):
    root = str(tmp_path)
    _touch(root, "courses/old.gz")
    engine = SyncEngine(root=root, dry_run=True)
    summary = engine.apply(
        spark,
        [{"table": "users", "filename": "new.gz", "url": "file:///x"}],
        http_fetcher(),
    )
    assert summary.dry_run is True
    assert summary.files_fetched == 1 and summary.files_removed == 1  # intended, not done
    assert os.path.exists(os.path.join(root, "raw_files/courses/old.gz"))
    assert not os.path.exists(os.path.join(root, "raw_files/users/new.gz"))
    assert any("DRY RUN: would fetch" in line for line in engine.log)
    assert any("DRY RUN: would delete" in line for line in engine.log)


def test_apply_bounded_driver_log_at_scale(spark, tmp_path):
    """100k-file manifest: the driver log keeps only a capped key sample,
    never the full per-file status list — while SyncSummary counts stay
    exact."""
    root = str(tmp_path / "lake")
    n = 100_000
    remote = [
        {"table": f"t{i % 50}", "filename": f"f{i}.gz", "url": "noop://x"}
        for i in range(n)
    ]

    def noop_fetcher(url, dest):
        open(dest, "w").close()

    engine = SyncEngine(root=root, max_fetch_tasks=8, io_threads=8)
    summary = engine.apply(spark, remote, noop_fetcher)
    assert summary.total_files == n and summary.files_fetched == n
    # capped sample + one truncation notice — not 100k lines
    assert len(engine.log) <= SyncEngine.LOG_SAMPLE_CAP + 1
    assert engine.log[-1].startswith("...") and "more files" in engine.log[-1]
    assert all(l.startswith("fetched:") for l in engine.log[:-1])
    # spot-check the side effects actually happened
    assert os.path.exists(os.path.join(root, "raw_files/t0/f0.gz"))
    assert os.path.exists(os.path.join(root, "raw_files/t49/f99999.gz"))


def test_apply_log_complete_below_cap(spark, tmp_path):
    """Small syncs keep the full per-file log (format unchanged)."""
    root = str(tmp_path / "lake")
    src = tmp_path / "src"
    os.makedirs(src)
    (src / "a.gz").write_text("x")
    engine = SyncEngine(root=root)
    engine.apply(
        spark,
        [{"table": "users", "filename": "a.gz", "url": f"file://{src}/a.gz"}],
        http_fetcher(),
    )
    assert engine.log == ["fetched: raw_files/users/a.gz"]


def test_apply_isolates_per_file_failures(spark, tmp_path):
    """One permanently-failing URL must not abort the sync (the reference's
    one-Lambda-per-file blast radius): other files land, the failure is
    counted, and the NEXT converge run fetches the healed file."""
    import os

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    src = tmp_path / "remote"
    src.mkdir()
    for name in ("good1.gz", "bad.gz", "good2.gz"):
        (src / name).write_bytes(name.encode())
    rows = [
        {"table": "t", "filename": n, "url": f"file://{src}/{n}"}
        for n in ("good1.gz", "bad.gz", "good2.gz")
    ]
    root = str(tmp_path / "lake")

    def flaky(url, dest):
        if "bad.gz" in url:
            raise OSError("remote 500")
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    eng = SyncEngine(root=root, max_fetch_tasks=2)
    s1 = eng.apply(spark, rows, flaky)
    assert s1.files_failed == 1 and s1.files_fetched == 3  # 3 planned, 1 failed
    assert os.path.exists(os.path.join(root, "raw_files/t/good1.gz"))
    assert os.path.exists(os.path.join(root, "raw_files/t/good2.gz"))
    assert not os.path.exists(os.path.join(root, "raw_files/t/bad.gz"))
    assert any("failed (OSError)" in line for line in eng.log)

    def healed(url, dest):
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    eng2 = SyncEngine(root=root, max_fetch_tasks=2)
    s2 = eng2.apply(spark, rows, healed)
    assert s2.files_failed == 0
    assert os.path.exists(os.path.join(root, "raw_files/t/bad.gz"))


def test_bounded_converge_continuation(spark, tmp_path):
    """continuation_reinvoke analog: max_files_per_run caps each run's
    dispatched work; repeated idempotent runs converge, each reporting the
    remaining backlog (the reference's cursor-free self-reinvoke
    pagination, sync-canvas-data-files.py:88-98)."""
    import os

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    src = tmp_path / "remote"
    src.mkdir()
    names = [f"f{i}.gz" for i in range(5)]
    for n in names:
        (src / n).write_bytes(n.encode())
    rows = [{"table": "t", "filename": n, "url": f"file://{src}/{n}"} for n in names]
    root = str(tmp_path / "lake")

    def fetch(url, dest):
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    remaining = []
    for _run in range(3):
        eng = SyncEngine(root=root, max_files_per_run=2)
        s = eng.apply(spark, rows, fetch)
        remaining.append(s.files_remaining)
        if s.files_remaining:
            assert any("continuation:" in line for line in eng.log)
    assert remaining == [3, 1, 0]
    for n in names:
        assert os.path.exists(os.path.join(root, f"raw_files/t/{n}"))
    # converged: one more run is a no-op with nothing remaining
    s = SyncEngine(root=root, max_files_per_run=2).apply(spark, rows, fetch)
    assert s.files_remaining == 0 and s.files_failed == 0


def test_bounded_converge_failed_keys_do_not_starve(spark, tmp_path):
    """Starvation guard (round-7 advice): with max_files_per_run=2 and the
    two LOWEST-keyed files failing permanently, a naive key-ordered prefix
    would re-dispatch only those two forever. The persisted failed-keys
    ledger must rotate them to the back so every healthy file lands, then
    drop them once they heal and the sync converges cleanly."""
    import os

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    src = tmp_path / "remote"
    src.mkdir()
    names = [f"f{i}.gz" for i in range(5)]
    for n in names:
        (src / n).write_bytes(n.encode())
    rows = [{"table": "t", "filename": n, "url": f"file://{src}/{n}"} for n in names]
    root = str(tmp_path / "lake")
    broken = {"f0.gz", "f1.gz"}

    def flaky(url, dest):
        name = url.rsplit("/", 1)[-1]
        if name in broken:
            raise OSError(f"permanent failure: {name}")
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    # fresh engine per run, like a cron job — the ledger must persist on disk
    for _run in range(3):
        SyncEngine(root=root, max_files_per_run=2).apply(spark, rows, flaky)
    for n in names:
        present = os.path.exists(os.path.join(root, f"raw_files/t/{n}"))
        assert present == (n not in broken), n
    ledger = os.path.join(root, SyncEngine.FAILED_KEYS_FILE)
    assert os.path.exists(ledger)
    # heal the origin: the failing pair is retried (it is all that remains),
    # the sync converges, and the clean run drops the ledger
    broken.clear()
    s = SyncEngine(root=root, max_files_per_run=2).apply(spark, rows, flaky)
    assert s.files_failed == 0 and s.files_remaining == 0
    for n in names:
        assert os.path.exists(os.path.join(root, f"raw_files/t/{n}"))
    assert not os.path.exists(ledger)


def test_failed_keys_ledger_survives_unrelated_clean_run(spark, tmp_path):
    """Round-8 advice: a clean bounded run may only drop ledger entries its
    OWN plan covered. An additive dump-mode run whose manifest never
    mentions the still-failing keys from a prior snapshot run must leave
    those entries in place — otherwise the failing keys regain their
    prefix-pinning power on the next bounded snapshot sync."""
    import json
    import os

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    src = tmp_path / "remote"
    src.mkdir()
    snap_names = [f"f{i}.gz" for i in range(4)]
    dump_names = ["d0.gz", "d1.gz"]
    for n in snap_names + dump_names:
        (src / n).write_bytes(n.encode())
    snap_rows = [
        {"table": "t", "filename": n, "url": f"file://{src}/{n}"} for n in snap_names
    ]
    dump_rows = [
        {"table": "t", "filename": n, "url": f"file://{src}/{n}"} for n in dump_names
    ]
    root = str(tmp_path / "lake")
    broken = {"f0.gz"}

    def flaky(url, dest):
        name = url.rsplit("/", 1)[-1]
        if name in broken:
            raise OSError(f"permanent failure: {name}")
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    # snapshot run: f0 fails -> ledger records it
    for _run in range(2):
        SyncEngine(root=root, max_files_per_run=2).apply(spark, snap_rows, flaky)
    ledger = os.path.join(root, SyncEngine.FAILED_KEYS_FILE)
    assert os.path.exists(ledger)
    with open(ledger) as f:
        before = set(json.load(f)["failed_keys"])
    assert any("f0.gz" in k for k in before)

    # additive dump run over DIFFERENT files: converges cleanly, but its
    # plan never covered f0 — the ledger entry must survive
    s = SyncEngine(root=root, max_files_per_run=2).apply(
        spark, dump_rows, flaky, additive=True
    )
    assert s.files_failed == 0 and s.files_remaining == 0
    assert os.path.exists(ledger), "unrelated clean run deleted the ledger"
    with open(ledger) as f:
        after = set(json.load(f)["failed_keys"])
    assert after == before

    # a clean snapshot run that DOES cover f0 (healed) drops the entry
    broken.clear()
    s = SyncEngine(root=root, max_files_per_run=4).apply(spark, snap_rows, flaky)
    assert s.files_failed == 0 and s.files_remaining == 0
    assert not os.path.exists(ledger)


def test_failed_keys_ledger_drops_keys_gone_from_both_sides(spark, tmp_path):
    """Round-9 advice: a key that leaves the remote manifest and never
    landed locally (its fetch always failed) is enumerated by NO future
    mirror plan — full-outer reconcile only sees remote or local keys — so
    a clean SNAPSHOT converge must clear it from the ledger instead of
    letting it pin cap space in the 10k-bounded ledger forever."""
    import json
    import os

    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    src = tmp_path / "remote"
    src.mkdir()
    names = [f"f{i}.gz" for i in range(4)]
    for n in names:
        (src / n).write_bytes(n.encode())
    rows = [{"table": "t", "filename": n, "url": f"file://{src}/{n}"} for n in names]
    root = str(tmp_path / "lake")

    def flaky(url, dest):
        name = url.rsplit("/", 1)[-1]
        if name == "f0.gz":
            raise OSError("permanent failure: f0.gz")
        with open(url.replace("file://", ""), "rb") as f, open(dest, "wb") as o:
            o.write(f.read())

    for _run in range(2):
        SyncEngine(root=root, max_files_per_run=2).apply(spark, rows, flaky)
    ledger = os.path.join(root, SyncEngine.FAILED_KEYS_FILE)
    assert os.path.exists(ledger)
    with open(ledger) as f:
        assert any("f0.gz" in k for k in json.load(f)["failed_keys"])

    # f0 leaves the remote manifest; it never landed locally, so the mirror
    # plan over the remaining files contains no trace of it. The clean
    # snapshot converge must clear the ledger entirely.
    s = SyncEngine(root=root, max_files_per_run=4).apply(spark, rows[1:], flaky)
    assert s.files_failed == 0 and s.files_remaining == 0
    assert not os.path.exists(ledger), (
        "ledger still pins a key that exists on neither side"
    )
