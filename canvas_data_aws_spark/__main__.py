"""Command-line entry point: ``python -m canvas_data_aws_spark <cmd>``.

The reference ships as two Lambda handlers driven by schedule/queue events
(sync-canvas-data-files.py / fetch-canvas-data-file.py); this CLI is the
operator-facing equivalent for a Spark deployment — the same sync
choreography invokable from cron/Airflow/a shell, plus direct access to
the named query registry:

    python -m canvas_data_aws_spark list [--tag llm]
    python -m canvas_data_aws_spark query tpch_q3 --sf-dir /data/sf0.1 -n 20
    python -m canvas_data_aws_spark sync --root /lake [--dry-run] [--additive]
    python -m canvas_data_aws_spark curate --sf-dir /data/sf0.1 --out /shards
    python -m canvas_data_aws_spark tag --sf-dir /data/sf0.1 --out /attrs
    python -m canvas_data_aws_spark link --sf-dir /data/sf0.1 --out /entities
    python -m canvas_data_aws_spark compact --state-dir /state [--force]
        [--verdicts-dir /verdicts --expire-verdicts-before N]

``sync`` resolves credentials secret-file-first/env-fallback (the
reference's secrets path), pulls the snapshot manifest from the API, and
converges the local lake via the reconciler (a driver-side plan, then a
thread pool of fetches and deletes); every fetch is HMAC-signed. Exit code is 0 on success, 2 on bad usage, 1 on failure.
"""

from __future__ import annotations

import argparse
import functools
import json
import sys


def _cmd_list(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.plans.registry import all_queries

    for name, q in sorted(all_queries().items()):
        if args.tag and args.tag not in q.tags:
            continue
        kind = "local-only" if q.local_only else ("oracle" if q.oracle else "rows-only")
        print(f"{name:40s} [{kind}] {','.join(q.tags)}")
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.session import get_spark

    reg = all_queries()
    if args.name not in reg:
        print(f"unknown query: {args.name} (see `list`)", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"cda-query-{args.name}")
    df = reg[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def _cmd_sync(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.ingest.api_client import CanvasDataClient, signed_headers
    from canvas_data_aws_spark.ingest.credentials import resolve_credentials
    from canvas_data_aws_spark.ingest.fetchers import http_fetcher
    from canvas_data_aws_spark.ingest.reconciler import SyncEngine

    creds = resolve_credentials(secret_file=args.secret_file)
    client = CanvasDataClient(creds, **(
        {"base_url": args.base_url} if args.base_url else {}
    ))
    engine = SyncEngine(
        root=args.root,
        dry_run=args.dry_run,
        max_fetch_tasks=args.max_fetch_tasks,
        max_files_per_run=args.max_files_per_run,
    )
    summary = engine.apply(
        None,  # the sync core runs no Spark job
        client.sync_manifest_rows(),
        http_fetcher(headers=functools.partial(signed_headers, creds, "GET")),
        additive=args.additive,
    )
    # sink_notify analog: the reference publishes this summary to SNS
    # (sync-canvas-data-files.py:141-145)
    print(json.dumps(summary.as_dict()))
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.pipelines.curate import curate
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-curate")
    funnel = curate(
        spark,
        args.sf_dir,
        args.out,
        capacity=args.capacity,
        seed=args.seed,
        jaccard_threshold=args.jaccard_threshold,
        line_dedup_min_df=args.line_dedup_min_df,
        classifier_keep_frac=args.classifier_keep_frac,
        checkpoint_dir=args.checkpoint_dir,
        attributes_dir=args.attributes_dir,
    )
    print(json.dumps(funnel.as_dict()))
    return 0


def _cmd_tag(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.pipelines.curate import build_attribute_store
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-tag")
    rec = build_attribute_store(spark, args.sf_dir, args.out)
    print(json.dumps({"built": rec["built"], "fingerprint": rec["fingerprint"]}))
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.streaming.near_dedup import (
        NearDedupConfig,
        compact_state,
        compaction_due,
        expire_verdicts,
        recover_state,
    )

    if (args.expire_verdicts_before is None) != (args.verdicts_dir is None):
        print(
            json.dumps(
                {
                    "error": "--expire-verdicts-before and --verdicts-dir "
                    "must be given together"
                }
            )
        )
        return 2

    # out_dir is part of NearDedupConfig for the streaming run; compaction
    # touches only the two re-read state dirs (bands, sigs) and never the
    # verdicts sink, so no output dir is needed here.
    cfg = NearDedupConfig(state_dir=args.state_dir, out_dir="")
    # recovery BEFORE the policy gate: a prior compaction that died mid-swap
    # leaves a store that looks small/absent — the early return below must
    # never skip the roll-forward (no Spark session needed)
    recover_state(cfg)
    # verdicts retention is an explicit operator decision (the sink is
    # append-only by default), so it runs regardless of the state-store
    # policy outcome — filesystem-only, like the policy itself
    retention = None
    if args.expire_verdicts_before is not None:
        retention = expire_verdicts(args.verdicts_dir, args.expire_verdicts_before)
    policy = compaction_due(
        cfg, max_state_files=args.max_state_files, max_batches=args.max_batches
    )
    extra = {"verdicts_expired": retention} if retention is not None else {}
    if not (policy["due"] or args.force):
        print(json.dumps({**policy, "compacted": False, **extra}))
        return 0
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-compact")
    stats = compact_state(spark, cfg)
    print(json.dumps({**policy, "compacted": True, **stats, **extra}))
    return 0


def _cmd_link(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.pipelines.link import run_link
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-link")
    summary = run_link(spark, args.sf_dir, args.out, where=args.where)
    print(json.dumps(summary))
    return 0


def _cmd_assemble(args: argparse.Namespace) -> int:
    from canvas_data_aws_spark.pipelines.assemble import (
        run_assemble,
        verify_assemble,
    )
    from canvas_data_aws_spark.session import get_spark

    spark = get_spark(app_name="cda-assemble")
    if args.verify:
        report = verify_assemble(spark, args.out)
        print(json.dumps(report))
        return 0 if report["ok"] else 1
    if not args.sf_dir:
        print("assemble: --sf-dir is required unless --verify", file=sys.stderr)
        return 2
    summary = run_assemble(
        spark,
        args.sf_dir,
        args.out,
        epoch=args.epoch,
        alpha=args.alpha,
        token_budget=args.token_budget or None,
        seq_len=args.seq_len,
        shards=args.shards,
        where=args.where,
        keep_from=args.keep_from,
        split=args.split,
    )
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="canvas_data_aws_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pl = sub.add_parser("list", help="list registered queries")
    pl.add_argument("--tag", help="filter by tag (e.g. tpch, llm, streaming)")
    pl.set_defaults(fn=_cmd_list)

    pq = sub.add_parser("query", help="run one registered query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pq.add_argument("-n", "--rows", type=int, default=20)
    pq.add_argument("--explain", action="store_true", help="print the physical plan")
    pq.set_defaults(fn=_cmd_query)

    ps = sub.add_parser("sync", help="converge a local lake to the remote manifest")
    ps.add_argument("--root", required=True, help="lake root directory")
    ps.add_argument("--base-url", help="API base URL override (e.g. a mirror)")
    ps.add_argument("--secret-file", help="JSON file with api_key/api_secret")
    ps.add_argument("--dry-run", action="store_true")
    ps.add_argument("--additive", action="store_true", help="never delete local files")
    ps.add_argument("--max-fetch-tasks", type=int, default=16)
    ps.add_argument(
        "--max-files-per-run",
        type=int,
        help="bounded converge: cap dispatched work per run (re-run to finish)",
    )
    ps.set_defaults(fn=_cmd_sync)

    pc = sub.add_parser(
        "curate",
        help="run the composed curation pipeline: quality -> exact dedup -> "
        "near-dup collapse -> decontaminate -> pack -> shard export",
    )
    pc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pc.add_argument("--out", required=True, help="shard output directory")
    pc.add_argument("--capacity", type=int, default=2048, help="tokens per batch")
    pc.add_argument("--seed", default="epoch0", help="epoch shuffle seed string")
    pc.add_argument("--jaccard-threshold", type=float, default=0.5)
    pc.add_argument(
        "--line-dedup-min-df",
        type=int,
        default=None,
        help="enable C4-style line-level dedup: drop lines repeated in >= "
        "this many docs (off by default)",
    )
    pc.add_argument(
        "--classifier-keep-frac",
        type=float,
        default=None,
        help="enable the model-based filter: train the hashed-BOW logistic "
        "quality classifier on the rule survivors (Gopher word-count weak "
        "label) and keep the top FRACTION of docs by predicted score "
        "(DCLM-style keep-top-k%%; off by default)",
    )
    pc.add_argument(
        "--checkpoint-dir",
        default=None,
        help="materialize + fingerprint tier outputs here; a rerun resumes "
        "from the deepest tier whose inputs and parameters are unchanged "
        "(crash recovery / re-shard for a new epoch without re-deduping)",
    )
    pc.add_argument(
        "--attributes-dir",
        default=None,
        help="persist the Dolma-style document attribute store here (one "
        "fused tagger scan, input-signature marker); the quality stage "
        "then filters from attributes and a rerun never re-tags text",
    )
    pc.set_defaults(fn=_cmd_curate)

    pt = sub.add_parser(
        "tag",
        help="build-or-adopt the Dolma-style document attribute store "
        "standalone (one fused tagger scan, input-signature marker): "
        "pre-build on a schedule so the day's first `curate "
        "--attributes-dir` run pays no tagger scan. No-op when the "
        "marker matches the corpus.",
    )
    pt.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pt.add_argument(
        "--out", required=True, help="attribute store directory (the same "
        "path later passed to curate --attributes-dir)"
    )
    pt.set_defaults(fn=_cmd_tag)

    pk = sub.add_parser(
        "compact",
        help="fold the streaming near-dedup state store's per-batch "
        "partitions into one batch_id=-1 layer (lakehouse OPTIMIZE for the "
        "state dirs). Run BETWEEN stream runs — checkpoint committed, no "
        "pending replay. No-op unless the file-count/batch-count policy "
        "fires (see --max-state-files/--max-batches) or --force is given.",
    )
    pk.add_argument(
        "--state-dir", required=True, help="the stream's state_dir"
    )
    pk.add_argument(
        "--max-state-files",
        type=int,
        default=256,
        help="compact when live state parquet files exceed this (every "
        "micro-batch's state scan opens every live file)",
    )
    pk.add_argument(
        "--max-batches",
        type=int,
        default=32,
        help="compact when distinct live batch_id partitions exceed this",
    )
    pk.add_argument(
        "--force",
        action="store_true",
        help="compact regardless of the policy triggers",
    )
    pk.add_argument(
        "--verdicts-dir",
        help="the stream's verdicts sink (out_dir) — required with "
        "--expire-verdicts-before",
    )
    pk.add_argument(
        "--expire-verdicts-before",
        type=int,
        metavar="N",
        help="retention: delete verdicts partitions with batch_id < N "
        "(the sink is append-only by default; expire only batches every "
        "consumer's high-water mark has passed). Runs even when the "
        "state-store policy says not-due.",
    )
    pk.set_defaults(fn=_cmd_compact)

    pe = sub.add_parser(
        "link",
        help="entity resolution over documents: batch ER on first run, "
        "delta-vs-state incremental on re-runs (pipelines/link.py)",
    )
    pe.add_argument("--sf-dir", required=True)
    pe.add_argument("--out", required=True, help="state dir (marker + versioned outputs)")
    pe.add_argument(
        "--where",
        default=None,
        help="SQL predicate scoping which documents this run ingests "
        "(e.g. 'doc_id %% 10 < 8'); omit for the full table",
    )
    pe.set_defaults(fn=_cmd_link)

    pa = sub.add_parser(
        "assemble",
        help="assemble a training epoch: budgeted temperature mixture with "
        "fractional-epoch upsampling -> deterministic shuffle -> shard -> "
        "sequence packing, written as a shard-partitioned manifest "
        "(pipelines/assemble.py). Re-running an unchanged (recipe, epoch) "
        "is a no-op; a new --epoch re-shuffles the same instances.",
    )
    pa.add_argument(
        "--sf-dir", default=None, help="source tables (required unless --verify)"
    )
    pa.add_argument(
        "--out", required=True, help="state dir (marker + versioned manifests)"
    )
    pa.add_argument(
        "--verify",
        action="store_true",
        help="audit an existing state dir instead of building: recompute "
        "every epoch's manifest summary against the marker and (split "
        "layouts) the exact-fill + fragment-tiling invariants; exit 1 on "
        "any mismatch",
    )
    pa.add_argument("--epoch", type=int, default=1, help="shuffle epoch seed")
    pa.add_argument(
        "--alpha",
        type=float,
        default=0.5,
        help="mixture temperature (rate ~ n_tokens^alpha; 1 = proportional)",
    )
    pa.add_argument(
        "--token-budget",
        type=float,
        default=100_000.0,
        help="total token allocation the mixture honors exactly via "
        "fractional-epoch upsampling; pass 0 to disable rebalancing "
        "(every source at 1 epoch)",
    )
    pa.add_argument("--seq-len", type=int, default=512)
    pa.add_argument("--shards", type=int, default=16)
    pa.add_argument(
        "--where",
        default=None,
        help="SQL predicate scoping which documents this recipe ingests",
    )
    pa.add_argument(
        "--keep-from",
        default=None,
        help="curated export dir (any parquet with doc_id, e.g. a "
        "`curate --out`): assemble only its survivors — the curate -> "
        "assemble chain",
    )
    pa.add_argument(
        "--split",
        action="store_true",
        help="write the zero-padding layout: document FRAGMENTS split at "
        "exact seq-len boundaries (offset_in_doc re-assembles them); "
        "default keeps whole documents (no-split batch packing)",
    )
    pa.set_defaults(fn=_cmd_assemble)

    pn = sub.add_parser("lint", help="scale-lint a query's physical plan")
    pn.add_argument("name", help="query name, or --all")
    pn.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    pn.set_defaults(
        fn=lambda a: __import__(
            "canvas_data_aws_spark.lint", fromlist=["main"]
        ).main([a.name, a.sf_dir])
    )

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
