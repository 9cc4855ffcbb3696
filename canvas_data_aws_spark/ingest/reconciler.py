"""The sync engine: manifest reconciliation as a set difference on the driver.

The reference's sync core (lambda/sync-canvas-data-files.py:58-112) is an
imperative diff: remote files not present locally are fetched, local keys no
longer listed remotely are deleted, matches are skipped. Here that diff is a
dict of remote keys against a set of local keys, with a three-way verdict:

    remote ∩ local -> 'skip'    (:62-67)
    remote only    -> 'fetch'   (:69-84)
    local only     -> 'delete'  (:104-112)

Scale: manifests are metadata (one row per *file*, not per record), so even
a 100 TB lake is a few million keys, which a dict and a set on the driver
diff in seconds. Fetches are I/O-bound, so ``apply`` runs the work list in
one thread pool of ``max_fetch_tasks x io_threads`` workers, the analog of
one-Lambda-per-file (:78-84). The DataFrame form of the same verdicts,
``plans.ingest_q.reconcile``, backs the registry's SQL examples.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import NamedTuple

from canvas_data_aws_spark.ingest.fetchers import staged_path

#: Layout rule: every file lives under its table's directory
#: (key construction, sync-canvas-data-files.py:60).
RAW_PREFIX = "raw_files/"


class PlanRow(NamedTuple):
    """One reconciled file: the columns of ``plans.ingest_q.reconcile``.
    ``table``, ``filename`` and ``url`` are None for a 'delete'."""

    key: str
    table: str | None
    filename: str | None
    url: str | None
    verdict: str


def local_listing(root: str) -> set[str]:
    """source_local_listing: existing object keys under ``RAW_PREFIX``
    (the S3 listing at sync-canvas-data-files.py:38-43). Local-FS flavor:
    walk ``root`` and return relative keys. Hidden names are skipped, as
    Spark's file index skips them: the fetcher stages partial downloads as
    ``.{name}.part``, which are neither lake files nor deletions."""
    base = os.path.join(root, RAW_PREFIX)
    return {
        os.path.relpath(os.path.join(dirpath, fn), root).replace(os.sep, "/")
        for dirpath, _dirs, files in os.walk(base)
        for fn in files
        if not fn.startswith(".")
    }


def plan_verdicts(
    remote_rows: Iterable[dict],
    local_keys: set[str],
    additive: bool = False,
) -> list[PlanRow]:
    """diff_fetch_set + diff_delete_set over a remote manifest
    (source_remote_manifest: the API's ``{'files': [{table, filename, url}]}``
    listing, sync-canvas-data-files.py:46-48) and the local key set.

    Mirror mode (default): verdict in ('skip', 'fetch', 'delete') — converge
    local to exactly the remote snapshot.

    Additive mode (``additive=True``): verdict in ('skip', 'fetch') only.
    This is the dump-incremental contract — a dump manifest lists just that
    dump's files, so local files it doesn't mention (other tables, earlier
    dumps) are NOT deletions.
    """
    remote = {f"{RAW_PREFIX}{r['table']}/{r['filename']}": r for r in remote_rows}
    plan = [
        PlanRow(
            key, r["table"], r["filename"], r.get("url"),
            "skip" if key in local_keys else "fetch",
        )
        for key, r in remote.items()
    ]
    if not additive:
        plan += [
            PlanRow(key, None, None, None, "delete")
            for key in sorted(local_keys - remote.keys())
        ]
    return plan


def apply_file(root: str, row: PlanRow, fetcher: Callable[[str, str], None]) -> str:
    """The per-file body of ``apply``: one work row in, one action out.

    The idempotence guard lives here, exactly like the reference worker's
    existence check (fetch-canvas-data-file.py:25-31): a 'fetch' whose
    destination already exists skips without calling ``fetcher``. Deletes
    are the mirror semantics of sync-canvas-data-files.py:104-112.

    Per-file failure ISOLATION, matching the reference's one-Lambda-per-file
    blast radius: a raise is reported as its own action instead of aborting
    the sync. The file stays absent, so the NEXT converge run re-plans it as
    a fetch — eventual consistency through idempotent re-runs.
    """
    dest = os.path.join(root, row.key)
    try:
        if row.verdict == "delete":
            if os.path.exists(dest):
                os.remove(dest)
                return "deleted"
            return "already absent"
        if os.path.exists(dest):
            return "skip (exists)"
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        fetcher(row.url, dest)
        return "fetched"
    except Exception as e:  # noqa: BLE001 — isolate ANY per-file failure
        return f"failed ({type(e).__name__})"


@dataclass
class SyncSummary:
    """metrics_summary parity (sync-canvas-data-files.py:50-54,125-139)."""

    total_files: int = 0
    files_fetched: int = 0
    files_skipped: int = 0
    files_removed: int = 0
    #: files whose fetch/delete raised (isolated per-file; absent from the
    #: lake, re-planned as fetch by the next converge run)
    files_failed: int = 0
    #: work items beyond max_files_per_run, left for the next run
    #: (continuation_reinvoke analog — re-run to converge)
    files_remaining: int = 0
    dry_run: bool = False

    def as_dict(self) -> dict:
        return dict(self.__dict__)


@dataclass
class SyncEngine:
    """Snapshot-mirror sync: converge local state to the remote manifest.

    ``fetcher(url, dest_path) -> None`` is pluggable
    (``fetchers.http_fetcher`` streams http(s):// and file:// URLs — the
    worker body of fetch-canvas-data-file.py:14-42) and must be safe to
    call from several threads at once. ``dry_run`` logs intent without
    side effects (the reference's env-flag mode, sync-canvas-data-files.py:15).
    """

    root: str
    dry_run: bool = False
    #: fetch concurrency is max_fetch_tasks x io_threads pool workers
    max_fetch_tasks: int = 16
    io_threads: int = 8
    #: continuation_reinvoke analog (sync-canvas-data-files.py:88-98): the
    #: reference re-invokes itself when <30 s of Lambda budget remain,
    #: paginating the work list cursor-free across invocations. The SAME
    #: bounded-converge contract is useful here (maintenance windows,
    #: rate-limited origins): cap the files applied per run; reconciliation
    #: is idempotent, so repeated runs converge — each run re-plans and the
    #: already-fetched prefix verdicts 'skip'. None = unbounded (single-run
    #: converge). Starvation guard: a naive key-ordered prefix would
    #: re-dispatch the SAME low-keyed files every run, so >=
    #: max_files_per_run permanently-failing low-keyed files would starve
    #: all later-keyed work forever. Bounded runs therefore persist the keys
    #: that failed (``FAILED_KEYS_FILE`` under the lake root, capped at
    #: ``FAILED_KEYS_CAP``) and sort them AFTER fresh work in the next run's
    #: prefix — failing files still retry (eventually, when fresh work
    #: drains), but can never pin the prefix. The ledger drops a key the run
    #: it succeeds and is deleted when a run converges cleanly.
    max_files_per_run: int | None = None
    log: list[str] = field(default_factory=list, init=False)

    #: max per-file lines the driver retains in ``log``
    LOG_SAMPLE_CAP = 10_000

    def plan(self, remote_rows: list[dict], additive: bool = False) -> list[PlanRow]:
        """The verdicts for ``remote_rows`` against the lake as it is now."""
        return plan_verdicts(remote_rows, local_listing(self.root), additive)

    def apply(
        self,
        spark,
        remote_rows: list[dict],
        fetcher: Callable[[str, str], None],
        additive: bool = False,
    ) -> SyncSummary:
        """Plan, then fetch/delete the work list; a mirror apply also drops
        stale staged downloads. ``spark`` is unused: the sync core is
        metadata work and runs no Spark job."""
        plan = self.plan(remote_rows, additive=additive)
        counts = Counter(r.verdict for r in plan)
        work = [r for r in plan if r.verdict != "skip"]
        known_failed: set[str] = set()
        if self.max_files_per_run is not None:
            # bounded converge: a deterministic key-ordered prefix of the
            # work list; the remainder is simply not dispatched and the next
            # run's plan picks it up (fetched files verdict 'skip' then).
            # Keys that failed in earlier bounded runs sort LAST so they
            # cannot pin the prefix and starve later-keyed work (see
            # max_files_per_run docstring).
            known_failed = set(self._load_failed_keys())
            work = sorted(work, key=lambda r: (r.key in known_failed, r.key))
            work = work[: int(self.max_files_per_run)]

        if self.dry_run:
            outcomes = [(r.key, f"would {r.verdict}") for r in work]
        else:
            workers = max(1, self.max_fetch_tasks) * max(1, self.io_threads)
            with ThreadPoolExecutor(max_workers=max(1, min(workers, len(work)))) as pool:
                actions = pool.map(lambda r: apply_file(self.root, r, fetcher), work)
                outcomes = [(r.key, a) for r, a in zip(work, actions)]
            if not additive:
                self._drop_stale_parts({r.key for r in plan if r.verdict != "delete"})
        # the per-file Lambda-log analog, as a sorted sample of at most
        # LOG_SAMPLE_CAP lines
        shown = sorted(outcomes)[: self.LOG_SAMPLE_CAP]
        omitted = len(outcomes) - len(shown)
        if self.dry_run:
            self.log.extend(f"DRY RUN: {action} {key}" for key, action in shown)
            if omitted:
                self.log.append(f"DRY RUN: ... ({omitted} more files)")
        else:
            self.log.extend(f"{action}: {key}" for key, action in shown)
            if omitted:
                self.log.append(
                    f"... ({omitted} more files; log sampled at {self.LOG_SAMPLE_CAP})"
                )

        # plan counts stay the verdict totals (sync_metrics_summary parity);
        # failures report how much of the work list did NOT land this run
        failed_now = {k for k, a in outcomes if a.startswith("failed")}
        summary = SyncSummary(
            total_files=len(plan),
            files_fetched=counts["fetch"],
            files_skipped=counts["skip"],
            files_removed=counts["delete"],
            files_failed=len(failed_now),
            files_remaining=(
                0 if self.dry_run else counts["fetch"] + counts["delete"] - len(outcomes)
            ),
            dry_run=self.dry_run,
        )
        if not self.dry_run and self.max_files_per_run is not None:
            if summary.files_remaining == 0 and not failed_now:
                # Converged cleanly. A MIRROR plan enumerates every remote
                # AND local key, so a ledger key absent from it exists on
                # neither side and no future plan can cover it; covered
                # keys were just applied cleanly — clear the whole ledger.
                # An ADDITIVE dump-mode plan never mentions keys that failed
                # in a prior snapshot run; dropping those would hand them
                # back their prefix-pinning power on the next bounded
                # snapshot sync, so drop only the keys this plan covered.
                keep = known_failed - {r.key for r in plan} if additive else set()
                self._store_failed_keys(keep)
            else:
                ok_now = {k for k, _ in outcomes} - failed_now
                self._store_failed_keys((known_failed | failed_now) - ok_now)
        if summary.files_remaining > 0:
            self.log.append(
                f"continuation: {summary.files_remaining} work items remain "
                "(bounded run); re-run to converge"
            )
        return summary

    def _drop_stale_parts(self, remote_keys: set[str]) -> None:
        """Mirror mode: delete staged partial downloads
        (``fetchers.staged_path``) whose file left the remote manifest, since
        no fetch will resume them. They are not lake files, so
        ``files_removed`` does not count them."""
        keep = {staged_path(k) for k in remote_keys}
        for dirpath, _dirs, files in os.walk(os.path.join(self.root, RAW_PREFIX)):
            for fn in files:
                path = os.path.join(dirpath, fn)
                key = os.path.relpath(path, self.root).replace(os.sep, "/")
                if fn.startswith(".") and fn.endswith(".part") and key not in keep:
                    try:
                        os.remove(path)
                        self.log.append(f"deleted stale staged download: {key}")
                    except OSError as e:
                        self.log.append(f"failed ({type(e).__name__}) to delete {key}")

    # -- bounded-converge failed-keys ledger ---------------------------------

    #: Keys whose fetch/delete failed in a previous BOUNDED run, persisted
    #: under the lake root so fresh SyncEngine instances (cron re-runs)
    #: inherit the deprioritization. Same atomic tmp+rename discipline as
    #: the dump watermark.
    FAILED_KEYS_FILE = "_sync_failed_keys.json"
    #: Hard cap on the ledger. More failures than this means the origin is
    #: broken, not the scheduler; excess keys just fall back to natural key
    #: order.
    FAILED_KEYS_CAP = 10_000

    def _load_failed_keys(self) -> list[str]:
        path = os.path.join(self.root, self.FAILED_KEYS_FILE)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            keys = json.load(f).get("failed_keys", [])
        return [str(k) for k in keys][: self.FAILED_KEYS_CAP]

    def _store_failed_keys(self, keys: set[str]) -> None:
        path = os.path.join(self.root, self.FAILED_KEYS_FILE)
        if not keys:
            if os.path.exists(path):
                os.remove(path)
            return
        os.makedirs(self.root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"failed_keys": sorted(keys)[: self.FAILED_KEYS_CAP]}, f)
        os.replace(tmp, path)

    # -- dump-incremental mode ---------------------------------------------

    #: Watermark file under the lake root recording the highest dump
    #: sequence already applied. The reference is snapshot-only
    #: (sync-canvas-data-files.py:47); dump mode is this engine's cheaper
    #: extension: reconcile only the files each NEW dump ships.
    DUMP_STATE_FILE = "_dump_sync_state.json"

    def last_synced_sequence(self) -> int:
        path = os.path.join(self.root, self.DUMP_STATE_FILE)
        if not os.path.exists(path):
            return -1
        with open(path) as f:
            return int(json.load(f).get("last_sequence", -1))

    def _write_synced_sequence(self, sequence: int) -> None:
        path = os.path.join(self.root, self.DUMP_STATE_FILE)
        os.makedirs(self.root, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_sequence": int(sequence)}, f)
        os.replace(tmp, path)  # atomic: a crash never corrupts the watermark

    def sync_dumps(
        self,
        spark,
        client,
        fetcher: Callable[[str, str], None],
    ) -> list[tuple[str, SyncSummary]]:
        """Incremental sync: discover dumps newer than the watermark via the
        API (``get_dumps(after=...)``), apply each IN SEQUENCE ORDER as an
        additive reconcile (fetch-only — a dump manifest never implies
        deletion of files it doesn't list), and advance the watermark after
        each fully landed dump so a crash resumes at the first unapplied one.

        ``client`` needs ``get_dumps(after=...)`` and
        ``dump_manifest_rows(dump_id)`` (``CanvasDataClient`` provides
        both). Returns ``[(dump_id, summary), ...]`` for the dumps applied.
        Unfinished dumps are skipped (still being written portal-side) and
        NOT watermarked past, so they are retried next run — matching the
        at-least-once semantics of the snapshot mode's idempotent fetch. A
        dump that did not fully land (a failed fetch, or files left by
        ``max_files_per_run``) is returned but not watermarked, and later
        dumps wait for the next run, which fetches what is missing. A dry
        run never moves the watermark.
        """
        after = self.last_synced_sequence()
        dumps = client.get_dumps(after=after if after >= 0 else None)
        ready: list[dict] = []
        for d in sorted(dumps, key=lambda d: d.get("sequence", 0)):
            if d.get("sequence", 0) <= after:
                continue  # server ignored `after`; filter client-side too
            if not d.get("finished", True):
                break  # stop at the first unfinished dump — keep ordering
            ready.append(d)
        results: list[tuple[str, SyncSummary]] = []
        for d in ready:
            rows = client.dump_manifest_rows(d["dumpId"])
            summary = self.apply(spark, rows, fetcher, additive=True)
            results.append((d["dumpId"], summary))
            if summary.files_failed or summary.files_remaining:
                break
            if not self.dry_run:
                self._write_synced_sequence(d["sequence"])
        return results

