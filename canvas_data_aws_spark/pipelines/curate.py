"""The composed ``curate`` pipeline: raw documents -> training shards.

One callable chains the curation stages every LLM training-data pipeline
ships, in the canonical order (cheap row-local filters first, pairwise
work only on survivors):

    quality_filter -> dedup_exact -> minhash near-dup collapse_best
        -> decontaminate (vs the held-out eval slice) -> pack_batches
        -> deterministic epoch shuffle -> shard-partitioned parquet write

This is the query-side analog of the reference's identity as ONE composed
artifact (sync-canvas-data-files.py:58-139 runs the whole sync
choreography per invocation, with a hand-counted summary dict at
:50-54,125-139): a curation run is one call producing shards plus an
accountable funnel row, not a parts bin of registry entries.

Scale shape (the 100 TB contract):

- Funnel metrics ride ``df.observe`` at each stage boundary — CollectMetrics
  nodes execute inside the SAME jobs that produce the shards; the funnel
  costs no extra pass over the text.
- The stage ORDER is the cost design: quality rules are row-local (one
  scan), exact dedup shuffles 32-byte digests, and only the quality+exact
  survivors pay the MinHash signature/banding cost. Pairwise work is
  banded (never all-pairs); components run on the pair graph only.
- Decontamination broadcasts the eval shingle set (eval suites are tiny)
  — the train side is touched in one scan.
- The shard write is the one data-sized exchange at the end: the
  deterministic md5(seed||doc_id) epoch shuffle feeds
  ``partitionBy(shard)``, which a sharded training export pays anyway.
- Driver state: the funnel counts (a handful of longs) and nothing else.

Checkpoint/resume (``checkpoint_dir``): a multi-hour 100 TB curation run
that dies in the pairwise tier must not redo the row-local tier — and the
commonest RE-run (new epoch seed, new pack capacity) touches only the
final shuffle/pack/write tier. With a checkpoint dir set, the pipeline
materializes its two cost-tier boundaries (``quality`` survivors, then
``clean`` pairwise survivors) as parquet plus a fingerprint marker:
md5 over the input file listing and every parameter the tier consumed,
chained to the upstream tier's fingerprint. A rerun recomputes a tier
ONLY when its fingerprint misses (parameter or input change invalidates
that tier and everything downstream, never upstream). Markers are written
AFTER their parquet completes, so a crash mid-write leaves no trusted
marker — resume re-runs that tier. Funnel counts for skipped tiers come
from the marker (they were observed when the tier actually ran). Without
``checkpoint_dir`` the behavior is unchanged: ONE action, no staging
writes. The reference's analog is its continuation reinvoke
(sync-canvas-data-files.py:78-84 re-enters until converged); here the
unit of progress is a pipeline tier instead of a file batch.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from canvas_data_aws_spark.operators.clustering import connected_components
from canvas_data_aws_spark.operators.curation import (
    decontaminate,
    pack_sequences,
    quality_filter,
    quality_rules_from_attributes,
)
from canvas_data_aws_spark.operators.dedup import (
    dedup_exact,
    line_dedup,
    minhash_lsh_pairs,
)
from canvas_data_aws_spark.operators.text import document_attributes
from canvas_data_aws_spark.sources.parquet import load_table


@dataclass(frozen=True)
class CurationFunnel:
    """Per-stage survivor counts — the accountable one-row report."""

    n_raw: int
    n_quality: int
    n_exact: int
    n_near: int
    n_train: int
    n_clean: int
    n_batches: int
    n_shards: int
    out_dir: str

    def as_dict(self) -> dict:
        return asdict(self)


def _input_signature(sf_dir: str) -> str:
    """Identity of the input: relative path + size + mtime_ns of every
    file under documents.parquet (mtime_ns catches an in-place rewrite
    that preserves names and sizes — same convention as
    sources/tpch_supplement.py::_source_fingerprint). Local-filesystem
    stat here; on a real lake this is the table-format snapshot id — the
    contract (a resumable tier must notice its input changed) is the
    same."""
    root = os.path.join(sf_dir, "documents.parquet")
    entries: list[tuple[str, int, int]] = []
    if os.path.isdir(root):
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                )
    elif os.path.exists(root):
        st = os.stat(root)
        entries.append(("documents.parquet", st.st_size, st.st_mtime_ns))
    entries.sort()
    return hashlib.md5(json.dumps([sf_dir, entries]).encode()).hexdigest()


def _fingerprint(**params) -> str:
    return hashlib.md5(json.dumps(params, sort_keys=True).encode()).hexdigest()


def _classifier_training_inputs(q: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stage-1c training inputs: ``(labels, features)`` for the hashed-BOW
    logistic classifier, BOTH built from the same nonblank doc set.

    The alignment is the contract: ``hashed_bow``/``bias_rows`` drop
    whitespace-only docs (``length(trim(text)) > 0`` — reachable at this
    point only via the line_dedup rewrite, which filters ``!= ''`` but not
    blanks), so the label frame must apply the identical filter — a label
    row without feature rows would inflate the gradient denominator n
    without contributing features, skewing the fit for every OTHER doc.
    Note what the alignment does NOT change: a whitespace-only doc still
    carries no features, gets no score, and is therefore dropped by the
    keep semi-join even at ``classifier_keep_frac=1.0`` — deliberate (a
    blank doc is exactly what the stage exists to drop), but a drop that
    happens because the doc is OUTSIDE the classified set, not because the
    model ranked it. Pinned by tests/test_cli.py::
    test_classifier_labels_cover_exactly_the_feature_docs."""
    from canvas_data_aws_spark.operators.classifier import bias_rows, hashed_bow

    nonblank = q.filter(F.length(F.trim("text")) > 0)
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    labels = nonblank.select(
        F.col("doc_id").alias("id"),
        n_words.between(50, 100000).cast("double").alias("y"),
    )
    feats = hashed_bow(nonblank).unionByName(bias_rows(nonblank))
    return labels, feats


def build_attribute_store(
    spark: SparkSession,
    sf_dir: str,
    attributes_dir: str,
    docs: DataFrame | None = None,
    input_sig: str | None = None,
) -> dict:
    """Build-or-adopt the Dolma-style attribute store: one fused tagger
    scan (operators/text.py::document_attributes) persisted under an
    input-signature marker. Adopts silently when the marker's fingerprint
    matches the corpus — the store is input-keyed only (taggers are
    parameter-free), so threshold iteration and reruns always adopt.

    Shared code path between ``curate --attributes-dir`` (which builds it
    lazily inside the quality tier) and the standalone ``tag`` CLI verb
    (an operator pre-building the store on a schedule so the day's first
    curate run pays no tagger scan). Returns ``{"built", "fingerprint",
    "schema"}``."""
    fp = _fingerprint(
        tier="attributes",
        input_sig=input_sig if input_sig is not None else _input_signature(sf_dir),
    )
    marker = _load_marker(attributes_dir, "attributes")
    if marker and marker.get("fingerprint") == fp:
        return {"built": False, "fingerprint": fp, "schema": marker["schema"]}
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    at = document_attributes(docs.select("doc_id", "text"))
    at.write.mode("overwrite").parquet(os.path.join(attributes_dir, "attributes"))
    _write_marker(attributes_dir, "attributes", fp, {}, at.schema.json())
    return {"built": True, "fingerprint": fp, "schema": at.schema.json()}


def _marker_path(checkpoint_dir: str, tier: str) -> str:
    return os.path.join(checkpoint_dir, f"{tier}._FINGERPRINT.json")


def _load_marker(checkpoint_dir: str, tier: str) -> dict | None:
    try:
        with open(_marker_path(checkpoint_dir, tier)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _atomic_write_json(path: str, obj: dict) -> None:
    """Crash-safe JSON write: temp file in the SAME directory, then
    os.replace — the repo's swap convention (see near_dedup's state swap).
    A crash mid-dump leaves only a ``.tmp`` orphan, never a truncated
    file at the real path, so readers need no corruption recovery beyond
    their existing not-found branch."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _write_marker(
    checkpoint_dir: str, tier: str, fingerprint: str, counts: dict, schema_json: str
) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    _atomic_write_json(
        _marker_path(checkpoint_dir, tier),
        {"fingerprint": fingerprint, "counts": counts, "schema": schema_json},
    )


def _read_tier(spark: SparkSession, checkpoint_dir: str, tier: str, schema_json: str):
    # explicit schema: an empty tier (zero part files) stays readable
    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(os.path.join(checkpoint_dir, tier))


def curate(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    capacity: int = 2048,
    seed: str = "epoch0",
    jaccard_threshold: float = 0.5,
    min_stop_ratio: float = 0.01,
    decontaminate_k: int = 8,
    min_hits: int = 1,
    n_shard_chars: int = 1,
    line_dedup_min_df: int | None = None,
    classifier_keep_frac: float | None = None,
    checkpoint_dir: str | None = None,
    attributes_dir: str | None = None,
) -> CurationFunnel:
    """Run the full curation chain over ``{sf_dir}/documents.parquet`` and
    write training shards to ``out_dir`` (parquet, partitioned by shard).

    Returns the funnel counts. The eval slice (``doc_id % 20 == 0``) is the
    decontamination probe set and is excluded from the shards — the same
    deterministic carve ``corpus_curation_funnel`` uses, so the two agree.

    With ``checkpoint_dir`` set, tier outputs are materialized and
    fingerprinted so a rerun (crash recovery, or a new ``seed``/
    ``capacity`` for the next epoch) resumes from the deepest tier whose
    fingerprint still matches — see the module docstring.

    With ``attributes_dir`` set, the Dolma-style attribute store
    (operators/text.py::document_attributes) becomes the pipeline's first
    stage: one fused tagger scan persists a narrow doc-keyed attribute
    table (own input-signature marker, refreshed only when the corpus
    changes), and the quality tier derives its keep-set from ATTRIBUTES
    (quality_rules_from_attributes + one id semi-join) instead of
    re-tagging text — so iterating quality thresholds over 100 TB costs an
    attribute-table scan, never a corpus scan. Equivalence with the inline
    path is test-pinned (same rules, same features).
    """
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")

    # one os.walk+stat of the input per run: the signature feeds up to
    # three fingerprints (checkpoint tiers, attribute store, classifier
    # weights), and on the object stores this pipeline targets every
    # LIST/stat is metered — memoize instead of re-walking per consumer
    _sig_memo: list[str] = []

    def _sig() -> str:
        if not _sig_memo:
            _sig_memo.append(_input_signature(sf_dir))
        return _sig_memo[0]

    # ---- stage 0 (optional): build-or-adopt the attribute store. The
    # store is input-keyed only (taggers are parameter-free), so threshold
    # iteration and epoch reruns always adopt it. Built LAZILY (inside the
    # quality tier, via _attrs below): a run that resumes past the quality
    # tier never consumes the store, and an unconditional build here would
    # pay a full corpus tagger scan + write for nothing — exactly the text
    # re-scan the checkpoint exists to skip.
    def _attrs() -> DataFrame:
        rec = build_attribute_store(
            spark, sf_dir, attributes_dir, docs=docs, input_sig=_sig()
        )
        return _read_tier(spark, attributes_dir, "attributes", rec["schema"])

    obs = {
        name: Observation(f"curate_{name}")
        for name in ("raw", "quality", "exact", "near", "train", "clean")
    }

    # un-observed stage handles, kept for the degenerate all-filtered path
    # where Observation.get fails and the funnel falls back to recounting
    stage_dfs: dict[str, DataFrame] = {}
    # counts resolved early: from a resume marker, or observed at a tier
    # checkpoint write. _obs_n consults this first.
    counts: dict[str, int] = {}

    def counted(df: DataFrame, stage: str) -> DataFrame:
        stage_dfs[stage] = df
        return df.observe(obs[stage], F.count(F.lit(1)).alias("n"))

    def _obs_n(stage: str) -> int:
        if stage in counts:
            return counts[stage]
        # When the pipeline runs EMPTY, AQE's runtime empty-relation
        # propagation rewrites the plan under the CollectMetrics nodes and
        # Observation.get fails instead of reporting — observed on the
        # all-filtered corpus (round-9 advice). Fall back to a direct
        # recount of that stage's DataFrame: a rare degenerate path, and
        # the funnel IS the diagnosis there, so the numbers must be real
        # rather than zero-filled.
        try:
            return int(obs[stage].get["n"])
        except Exception:
            return stage_dfs[stage].count()

    # ---- resume: adopt the deepest tier whose fingerprint matches
    fp_quality = fp_clean = None
    q: DataFrame | None = None
    clean: DataFrame | None = None
    if checkpoint_dir is not None:
        sig = _sig()
        fp_quality = _fingerprint(
            tier="quality",
            input_sig=sig,
            min_stop_ratio=min_stop_ratio,
            line_dedup_min_df=line_dedup_min_df,
            classifier_keep_frac=classifier_keep_frac,
        )
        fp_clean = _fingerprint(
            tier="clean",
            upstream=fp_quality,
            jaccard_threshold=jaccard_threshold,
            decontaminate_k=decontaminate_k,
            min_hits=min_hits,
        )
        marker = _load_marker(checkpoint_dir, "clean")
        if marker and marker.get("fingerprint") == fp_clean:
            clean = _read_tier(spark, checkpoint_dir, "clean", marker["schema"])
            counts.update(marker["counts"])
        else:
            marker = _load_marker(checkpoint_dir, "quality")
            if marker and marker.get("fingerprint") == fp_quality:
                q = _read_tier(spark, checkpoint_dir, "quality", marker["schema"])
                counts.update(marker["counts"])

    persisted: DataFrame | None = None
    if clean is None:
        if q is None:
            # ---- tier 1: row-local quality rules, one scan — or, with an
            # attribute store, one narrow attribute scan + id semi-join
            d0 = counted(docs.select("doc_id", "text"), "raw")
            if attributes_dir is not None:
                keep_ids = (
                    quality_rules_from_attributes(_attrs(), min_stop_ratio=min_stop_ratio)
                    .filter(F.col("keep"))
                    .select("doc_id")
                )
                q = counted(
                    d0.join(keep_ids, "doc_id", "left_semi").select("doc_id", "text"),
                    "quality",
                )
            else:
                q = counted(
                    quality_filter(d0, min_stop_ratio=min_stop_ratio)
                    .filter(F.col("keep"))
                    .select("doc_id", "text"),
                    "quality",
                )

            # 1b. optional C4-style line-level dedup (off by default): strip
            #     lines repeated across >= line_dedup_min_df documents and
            #     rewrite each survivor from its remaining lines (chunk mode
            #     — the fixture corpus has no newline structure); docs the
            #     rewrite empties are dropped here, which the funnel shows as
            #     quality -> exact shrinkage. The doc-frequency exchange
            #     ships md5 digests, never line text.
            if line_dedup_min_df is not None:
                q = (
                    line_dedup(q, min_doc_freq=line_dedup_min_df, mode="chunk")
                    .filter(F.col("text_clean") != "")
                    .select("doc_id", F.col("text_clean").alias("text"))
                )

            # 1c. optional model-based filter (off by default): the DCLM
            #     move — train the fastText-class hashed-BOW logistic
            #     classifier on the rule survivors (Gopher word-count weak
            #     label) and keep the TOP ``classifier_keep_frac`` of docs
            #     by predicted score (keep-top-k%, not an absolute prob
            #     threshold: a 3-pass GD filter ranks well — held-out AUC
            #     0.999 — long before its probabilities calibrate, exactly
            #     like production fastText gates). The GD fit runs its own
            #     bounded actions (3 passes x one (B+1)-double collect —
            #     operators/classifier.py), the cutoff is one approxQuantile
            #     (driver gets a single float), and the keep-set is one id
            #     semi-join riding the main action. Shrinkage shows as
            #     quality -> exact in the funnel, same as line dedup.
            if classifier_keep_frac is not None:
                if not (0.0 < classifier_keep_frac <= 1.0):
                    raise ValueError("classifier_keep_frac must be in (0, 1]")
                from canvas_data_aws_spark.operators.classifier import (
                    logistic_gd,
                    logistic_score,
                )

                # labels and features over the IDENTICAL nonblank doc set —
                # see _classifier_training_inputs for why the alignment is
                # load-bearing
                labels_c, feats_c = _classifier_training_inputs(q)

                # adopt persisted weights when the training inputs are
                # unchanged: the model is 65 doubles keyed by everything
                # UPSTREAM of the fit (corpus signature, quality-rule and
                # line-dedup params, GD hyperparameters) and deliberately
                # NOT by classifier_keep_frac — the keep fraction is a
                # post-scoring threshold, so iterating it
                # (--classifier-keep-frac 0.5 -> 0.6) must skip the 3-pass
                # refit the same way quality-threshold iteration skips the
                # tagger scan. Rides --attributes-dir, the store for
                # exactly this class of derived-once artifacts.
                wgt_c = bias_c = None
                w_fp = w_path = None
                if attributes_dir is not None:
                    w_fp = _fingerprint(
                        tier="classifier_weights",
                        input_sig=_sig(),
                        min_stop_ratio=min_stop_ratio,
                        line_dedup_min_df=line_dedup_min_df,
                        n_buckets=64,
                        lr=0.5,
                        passes=3,
                    )
                    w_path = os.path.join(
                        attributes_dir, "classifier_weights.json"
                    )
                    try:
                        with open(w_path) as fh:
                            wrec = json.load(fh)
                    except (OSError, ValueError):
                        wrec = None
                    if wrec and wrec.get("fingerprint") == w_fp:
                        wgt_c = [float(x) for x in wrec["weights"]]
                        bias_c = float(wrec["bias"])

                # degenerate guard: if the rule tier filtered everything,
                # there is nothing to train on — skip the stage and let the
                # zero funnel be the diagnosis. This must be a FULL count,
                # never limit(1): the guard is the first action over the
                # observed lineage, and an Observation records the FIRST
                # completed action — a limit-truncated job would poison
                # n_raw/n_quality at ~1 for the whole run (and, with
                # checkpointing, persist the lie into the quality marker).
                # Adopted weights imply the fingerprinted training set was
                # non-empty (the empty branch never persists), so the guard
                # count is skipped on adoption.
                if wgt_c is not None or labels_c.count() > 0:
                    if wgt_c is None:
                        wgt_c, bias_c = logistic_gd(
                            feats_c, labels_c, n_buckets=64, lr=0.5, passes=3
                        )
                        if w_path is not None:
                            os.makedirs(attributes_dir, exist_ok=True)
                            _atomic_write_json(
                                w_path,
                                {
                                    "fingerprint": w_fp,
                                    "weights": wgt_c,
                                    "bias": bias_c,
                                },
                            )
                    # materialize once: the scores feed approxQuantile AND
                    # the keep-set semi-join on the main action
                    scored_c = logistic_score(
                        feats_c, wgt_c, bias_c
                    ).localCheckpoint(eager=True)
                    cut = scored_c.approxQuantile(
                        "p", [1.0 - float(classifier_keep_frac)], 0.001
                    )[0]
                    keep_c = scored_c.filter(F.col("p") >= cut).select(
                        F.col("id").alias("doc_id")
                    )
                    q = q.join(keep_c, "doc_id", "left_semi")

            if checkpoint_dir is not None:
                q.write.mode("overwrite").parquet(
                    os.path.join(checkpoint_dir, "quality")
                )
                counts["raw"] = _obs_n("raw")
                counts["quality"] = _obs_n("quality")
                _write_marker(
                    checkpoint_dir,
                    "quality",
                    fp_quality,
                    {"raw": counts["raw"], "quality": counts["quality"]},
                    q.schema.json(),
                )
                # read back: cut lineage so the pairwise tier restarts from
                # the materialized survivors, not the raw scan
                q = _read_tier(
                    spark, checkpoint_dir, "quality", q.schema.json()
                )

        # ---- tier 2: pairwise work on survivors only
        # 2. exact dedup on quality survivors: digest shuffle only. The
        #    survivor set feeds three consumers (MinHash signatures, the
        #    component seed, the near-survivor join), so persist it once —
        #    at production scale this is the staging write between the
        #    cheap row-local tier and the pairwise tier.
        exact_ids = dedup_exact(q).select(F.col("kept_id").alias("doc_id"))
        e = counted(q.join(exact_ids, "doc_id", "left_semi"), "exact")
        e.persist()
        persisted = e

        # 3. near-dup collapse on exact survivors: banded MinHash pairs ->
        #    components -> one deterministic survivor per cluster (longest
        #    doc, doc_id tie-break) — the collapse_best semantics
        pairs = minhash_lsh_pairs(e, jaccard_threshold=jaccard_threshold).select(
            "id_a", "id_b"
        )
        comp = connected_components(
            # LSH pairs are dropDuplicates'd on (id_a, id_b) with id_a <
            # id_b: unique after symmetrization, skip the defensive distinct
            e.select(F.col("doc_id").alias("id")), pairs, vertex_col="id",
            assume_unique=True,
        ).select(F.col("id").alias("doc_id"), "component")
        wbest = Window.partitionBy("component").orderBy(
            F.length("text").desc(), F.col("doc_id")
        )
        near_ids = (
            e.join(comp, "doc_id")
            .withColumn("rk", F.row_number().over(wbest))
            .filter(F.col("rk") == 1)
            .select("doc_id")
        )
        n = counted(e.join(near_ids, "doc_id", "left_semi"), "near")

        # 4. decontaminate the train slice against the held-out eval slice
        train = counted(n.filter(F.col("doc_id") % 20 != 0), "train")
        eval_df = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text")
        cont = (
            decontaminate(train, eval_df, k=decontaminate_k, min_hits=min_hits)
            .filter(F.col("contaminated"))
            .select("doc_id")
        )
        clean = counted(train.join(cont, "doc_id", "left_anti"), "clean")

        if checkpoint_dir is not None:
            clean.write.mode("overwrite").parquet(
                os.path.join(checkpoint_dir, "clean")
            )
            for s in ("raw", "quality", "exact", "near", "train", "clean"):
                counts[s] = _obs_n(s)
            _write_marker(
                checkpoint_dir, "clean", fp_clean, dict(counts), clean.schema.json()
            )
            e.unpersist()
            persisted = None
            clean = _read_tier(spark, checkpoint_dir, "clean", clean.schema.json())

    if checkpoint_dir is not None and counts.get("clean") == 0:
        # every document was filtered out — the shard write would leave a
        # schemaless empty directory; the funnel IS the diagnosis, return it
        return CurationFunnel(
            n_raw=_obs_n("raw"),
            n_quality=_obs_n("quality"),
            n_exact=_obs_n("exact"),
            n_near=_obs_n("near"),
            n_train=_obs_n("train"),
            n_clean=0,
            n_batches=0,
            n_shards=0,
            out_dir=out_dir,
        )

    # ---- tier 3: epoch shuffle -> pack -> shard write (always runs: this
    # is the per-epoch tier, cheap to redo and parameterized by seed/capacity)
    # 5. deterministic epoch shuffle -> shard assignment: md5(seed||id)
    #    key, shard from the leading hex chars. The shard is the dataloader
    #    stream AND the packing group, so no window ever spans the corpus.
    keyed = clean.withColumn(
        "k", F.md5(F.concat(F.lit(seed + "-"), F.col("doc_id").cast("string")))
    ).withColumn(
        "shard", F.conv(F.substring("k", 1, n_shard_chars), 16, 10).cast("bigint")
    )
    wpos = Window.partitionBy("shard").orderBy("k", "doc_id")
    positioned = keyed.withColumn("pos", F.row_number().over(wpos).cast("bigint"))

    # 6. pack into fixed-token batches WITHIN each shard (prefix sum over
    #    the epoch order) — the same one exchange the shard write needs
    packed = pack_sequences(
        positioned, capacity=capacity, order_col="pos", group_col="shard"
    ).select("shard", "pos", "n_tokens", "batch_id")
    final = positioned.join(packed, ["shard", "pos"]).select(
        "doc_id", "text", "n_tokens", "batch_id", "pos", "shard"
    )

    # ONE action executes the whole chain; every observe rides it
    final.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    if persisted is not None:
        persisted.unpersist()

    # read back with the schema just written (shard, the partition column,
    # is already last): no inference job, and an all-filtered run's empty
    # directory reads as zero rows
    written = spark.read.schema(final.schema).parquet(out_dir)
    n_batches, n_shards = written.agg(
        F.countDistinct("shard", "batch_id").alias("b"),
        F.countDistinct("shard").alias("s"),
    ).collect()[0]
    return CurationFunnel(
        n_raw=_obs_n("raw"),
        n_quality=_obs_n("quality"),
        n_exact=_obs_n("exact"),
        n_near=_obs_n("near"),
        n_train=_obs_n("train"),
        n_clean=_obs_n("clean"),
        n_batches=int(n_batches),
        n_shards=int(n_shards),
        out_dir=out_dir,
    )
