"""Deduplication operators for large-scale text corpora (SURVEY.md §2 B.10
and the training-data-pipeline extension scope).

Five tiers, cheapest-first — at 100 TB you run them in this order and each
tier only sees the previous tier's survivors:

1. exact       — hash-groupBy on normalized text; one shuffle on a 256-bit
                 hash, no pairwise work.
2. ngram       — exact Jaccard over word shingles via an inverted-index
                 self-join (explode -> equi-join on shingle): pairwise work
                 bounded by shared-shingle candidates, never all-pairs.
3. simhash     — 64-bit locality hash; near-dups collide on rotated bands;
                 linear work + a band groupBy.
4. minhash/LSH — Spark-native xxhash64 min-signatures + banding: near-dup
                 search becomes an equi-join on band buckets (no MLlib
                 model state; one shuffle of (id, 64 longs)).
5. embedding   — semantic near-dup via cosine over embeddings (see
                 operators/similarity.py for the k-NN machinery).

All hot paths are JVM built-ins (split/transform/aggregate/xxhash64); no
Python in the per-row loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for CPU-heavy per-row stages.

    Small curated tables often arrive as one parquet file = ONE task, which
    serializes shingling/hashing no matter how many cores exist. Repartition
    only when under-parallel — an already-partitioned 100 TB input passes
    through untouched (no extra shuffle).

    Parallelism is judged from the scan's file listing (``df.inputFiles()``),
    not ``df.rdd.getNumPartitions()`` — the RDD handle forces a full
    plan-to-RDD translation per call, while the file listing is already
    materialized in the scan relation. ≥1 task per file is guaranteed, and
    for the few-huge-files case local file sizes against
    ``spark.sql.files.maxPartitionBytes`` estimate the split count."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans expose no listing
        files = []
    if len(files) >= target:
        return df  # one task per file minimum — already parallel enough
    est = _estimated_split_count(spark, files)
    if est is not None and est >= target:
        return df  # big files split into enough scan partitions on their own
    return df.repartition(target)


def _estimated_split_count(spark, files: list[str]) -> int | None:
    """Scan-partition estimate for locally-stattable files: ceil-sum of
    size/maxPartitionBytes. None when any file isn't local (at object-store
    scale the file count alone already exceeds any core count)."""
    import os
    from urllib.parse import urlparse

    if not files:
        return None
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    digits = raw.rstrip("ib")  # "134217728b", "128m", "1g", "128mb" forms
    mult = units.get(digits[-1], 1) if digits and digits[-1] in units else 1
    if mult != 1:
        digits = digits[:-1]
    max_bytes = max(1, int(digits) * mult)
    total = 0
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        try:
            size = os.path.getsize(p.path or f)
        except OSError:
            return None
        total += max(1, (size + max_bytes - 1) // max_bytes)
    return total


def collapse_exact_families(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Contract exact-duplicate families to one representative BEFORE a
    pairwise near-dup tier: returns the min-id doc per normalized-text
    family with its ``fam_size``, plus every zero-shingle doc as its own
    size-1 family.

    Exactness argument (this is a component-preserving graph contraction,
    not an approximation): docs with identical *normalized* text have
    identical shingle sets (``word_shingles`` normalizes first), so (a)
    within a family every pair shares all shingles — jaccard 1, a clique
    at any threshold ≤ 1 — and (b) every family member has IDENTICAL
    similarity to every outside doc. Contracting the clique to one node
    therefore leaves connected components, and any component property
    derived from family sizes, unchanged. The one exception is docs with
    ZERO shingles (fewer than k words): the inverted-index candidate join
    never pairs them — in the full graph they are singletons even when
    textually identical — so they are exempt from collapse.

    Why it matters at scale: a family of m duplicates contributes O(m²)
    candidate pairs to the inverted-index self-join (boilerplate families
    are exactly the hot case dedup exists for); after contraction the same
    family costs one node. This converts the pair graph's worst quadratic
    term into the cheap digest groupBy that exact dedup already pays.
    """
    fams = exact_family_map(df, text_col, id_col, k).groupBy("rep_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("fam_size")
    )
    return df.join(
        fams.withColumnRenamed("rep_id", id_col), id_col
    )


def exact_family_map(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id_col, rep_id) for every doc: rep_id = min id over the doc's exact
    normalized-text family, or the doc itself when it has zero k-shingles
    (see :func:`collapse_exact_families` for why zero-shingle docs are
    exempt). One window exchange on the digest — min-over-window, not
    groupBy + join-back: the aggregate-then-rejoin shape shuffles the
    digest table twice more, and on a mostly-unique corpus the family
    table is corpus-sized so the join never broadcasts (the same
    one-exchange lesson the 100x bounded-mode probe taught
    ngram_jaccard_pairs' doc-freq filter this round)."""
    from pyspark.sql import Window

    words = F.split(normalize_text(F.col(text_col)), " ")
    has_shingles = F.size(words) >= k
    keyed = spread(df).select(
        F.col(id_col),
        F.when(has_shingles, F.sha2(normalize_text(F.col(text_col)), 256))
        .otherwise(F.concat(F.lit("zero-shingle-"), F.col(id_col).cast("string")))
        .alias("fam_key"),
    )
    return keyed.select(
        F.col(id_col),
        F.min(id_col).over(Window.partitionBy("fam_key")).alias("rep_id"),
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by sha2(normalized text), keep the smallest id.

    Returns (kept_id, n_copies). One hash-shuffle; at scale the 256-bit hash
    column is tiny compared to the documents, so the shuffle moves ids+hashes
    only (project-before-shuffle).
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    return (
        spread(df).select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("kept_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("kept_id", "n_copies")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 2,
    mode: str = "newline",
    chunk_words: int = 10,
) -> DataFrame:
    """C4/RefinedWeb-style cross-document LINE-level dedup: drop every line
    whose normalized form occurs in at least ``min_doc_freq`` DISTINCT
    documents (boilerplate headers, cookie banners, license blurbs), and
    rebuild each document from its surviving lines in order.

    Returns (id_col, n_lines, n_dropped, text_clean) — one row per input
    document, fully deterministic (no hashing in the semantics).

    ``mode='newline'`` splits on ``\\n`` (the published rule; lines are
    normalized for matching but rebuilt verbatim). ``mode='chunk'`` handles
    corpora without line structure by treating consecutive
    ``chunk_words``-word windows of the NORMALIZED text as lines — aligned
    windows, so exact repeated passages still collide; ``pos`` is the
    1-based word index the chunk starts at.

    Empty normalized lines are exempt from the frequency rule (every
    blank line would otherwise "repeat" corpus-wide and be dropped).

    Scale shape: the doc-frequency count groups on md5 digests, so the
    counting exchange ships (digest, doc_id) only — never line text; the
    duplicated-digest set is usually tiny (boilerplate only) and joins
    back broadcast under AQE. The one data-sized exchange is the final
    groupBy(doc) rebuild, which any per-document rewrite pays.
    """
    if mode == "newline":
        parts = F.split(F.col(text_col), r"\n")
        structs = F.transform(
            parts,
            lambda ln, i: F.struct(
                (i + F.lit(1)).alias("pos"),
                ln.alias("line"),
                normalize_text(ln).alias("norm"),
            ),
        )
        sep = "\n"
    elif mode == "chunk":
        words = F.split(normalize_text(F.col(text_col)), " ")
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(words), F.lit(1)), F.lit(chunk_words)
        )
        structs = F.transform(
            starts,
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(words, i, chunk_words), " ").alias("line"),
                # chunk lines are built from normalized words already
                F.array_join(F.slice(words, i, chunk_words), " ").alias("norm"),
            ),
        )
        sep = " "
    else:
        raise ValueError(f"mode must be 'newline' or 'chunk', got {mode!r}")

    ex = (
        spread(df)
        .select(F.col(id_col), F.explode(structs).alias("s"))
        .select(id_col, "s.pos", "s.line", F.md5("s.norm").alias("dig"), "s.norm")
    )
    dup = (
        ex.filter(F.col("norm") != "")
        .groupBy("dig")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .filter(F.col("df") >= min_doc_freq)
        .select("dig")
        .withColumn("__dup", F.lit(True))
    )
    marked = ex.join(dup, "dig", "left").select(
        id_col, "pos", "line", F.coalesce("__dup", F.lit(False)).alias("dup")
    )
    return (
        marked.groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("pos", "line", "dup"))).alias("ls"))
        .select(
            F.col(id_col),
            F.size("ls").cast("bigint").alias("n_lines"),
            F.size(F.filter("ls", lambda s: s.dup)).cast("bigint").alias("n_dropped"),
            F.array_join(
                F.transform(F.filter("ls", lambda s: ~s.dup), lambda s: s.line), sep
            ).alias("text_clean"),
        )
    )


def word_shingles(col: Column, k: int = 3, distinct: bool = True) -> Column:
    """k-word shingles of a text column (distinct per doc by default),
    built entirely from JVM higher-order functions.

    Formulated as a zip_with fold over k phase-shifted array views rather
    than per-index transform+slice: slice-inside-transform re-slices the
    word array per output element (O(n*k) allocations in Catalyst's
    interpreted HOF path — measured ~9x slower); the zip_with chain does k-1
    array-level passes."""
    words = F.split(normalize_text(col), " ")
    n_out = F.greatest(F.size(words) - (k - 1), F.lit(0))
    shingles = F.slice(words, 1, n_out)
    for offset in range(1, k):
        nxt = F.slice(words, offset + 1, n_out)
        shingles = F.zip_with(shingles, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(shingles) if distinct else shingles


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    score: str = "jaccard",
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted index.

    ``score='containment'`` switches the symmetric Jaccard to min-side
    containment |A∩B| / min(|A|,|B|) — the asymmetric measure that catches
    a document EMBEDDED inside a larger one (quote farms, boilerplate
    wrappers), which Jaccard dilutes toward 0 as the size ratio grows.
    Same inverted-index candidate generation, same fan-out bounds; only the
    final row-local arithmetic changes.

    explode(shingles) -> self-equi-join on shingle -> |A∩B| per pair ->
    jaccard = inter / (|A| + |B| - inter). Only pairs sharing >=1 shingle
    are ever materialized (candidate generation is an equi-join, not a
    cross product); the id< id guard halves the pair space.

    ``max_doc_freq`` is the scale knob: a shingle appearing in d documents
    contributes O(d²) candidate pairs while discriminating nothing — at
    corpus scale, dropping shingles with doc-frequency > max_doc_freq bounds
    the join fan-out (candidate recall only; |A|,|B| and the intersection
    count still use the pruned universe, so jaccard becomes a lower-bound
    estimate). None = exact (oracle-checked mode).
    """
    sh = spread(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), k).alias("shingles")
    )
    return ngram_jaccard_pairs_from_shingles(
        sh, threshold=threshold, max_doc_freq=max_doc_freq, score=score
    )


def ngram_jaccard_pairs_from_shingles(
    shingled: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    score: str = "jaccard",
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` over a PRECOMPUTED ``(id, shingles)``
    table — the sharing hook for callers that already materialized the
    per-doc shingle arrays for another leg of the same query (e.g. the ER
    evaluation harness, whose blocking features include the identical
    ``word_shingles(text, 3)`` column): one shingling pass feeds both
    legs instead of each recomputing normalize+split+shingle from text.
    Same candidate generation, scoring, thresholds, and skew story as the
    text-input form; ``shingles`` must be per-doc DISTINCT (word_shingles'
    default) for the doc-frequency window to count correctly."""
    from pyspark import StorageLevel

    sh = shingled.select("id", "shingles").withColumn("n_sh", F.size("shingles"))
    exploded = sh.select("id", "n_sh", F.explode("shingles").alias("shingle"))
    if max_doc_freq is not None:
        from pyspark.sql import Window

        # doc-frequency as a count over a shingle window, NOT groupBy +
        # join-back: the join-back formulation shuffles the exploded index
        # twice more (the one-exchange lesson the repeated-passages plan
        # recorded in SCALE.md; the 100x probe of the join-back form cost
        # dedup_containment_bounded 2.7x the exact mode's wall). Shingles
        # are distinct per doc (word_shingles distinct=True), so count(*)
        # == doc frequency.
        exploded = (
            exploded.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
        # Bounded mode generates candidate pairs ROW-LOCALLY from per-
        # shingle posting lists (the triangle_count / market_basket pair
        # idiom) instead of the self-join below: groupBy(shingle) reuses
        # the window's hash partitioning (no new exchange), every posting
        # list is <= max_doc_freq entries BY THE FILTER ABOVE (bounded agg
        # buffers — the cap must stay upstream of collect_list: capping by
        # list size instead would build an unbounded hot-shingle list
        # before dropping it), and the double explode emits exactly the
        # id_a < id_b pairs the join produced. Drops the second index
        # read, the join, and the MEMORY_AND_DISK cache fill (measured
        # ABBA at sf0.1: 2.1-2.3 s vs 2.1-2.6 s, set-equal output for
        # jaccard AND containment). Exact mode keeps the self-join: an
        # uncapped hot shingle there would make a single collect_list
        # buffer the OOM hazard, while the join form gets AQE skew
        # splitting.
        postings = (
            exploded.groupBy("shingle")
            .agg(F.collect_list(F.struct("id", "n_sh")).alias("ps"))
            .filter(F.size("ps") >= 2)
        )
        pair_rows = postings.select(F.explode("ps").alias("a"), "ps").select(
            "a",
            F.explode(F.filter("ps", lambda x: x["id"] > F.col("a.id"))).alias("b"),
        )
        pairs = pair_rows.groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        ).agg(F.count(F.lit(1)).alias("inter"))
        return _score_pairs_result(pairs, score, threshold)

    # the self-join reads the inverted index twice; persist it so shingling
    # and normalization run once (measured ~25% at sf0.1). MEMORY_AND_DISK:
    # at corpus scale the index exceeds RAM and spills instead of OOMing —
    # still strictly cheaper than recomputing the explode.
    exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)

    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    result = _score_pairs_result(pairs, score, threshold)
    exploded.unpersist(blocking=False)
    return result


def _score_pairs_result(pairs: DataFrame, score: str, threshold: float) -> DataFrame:
    """Shared tail of ngram_jaccard_pairs: score, threshold, and eagerly
    materialize the (small, thresholded) pair set so any cached inverted
    index can be released by the caller — localCheckpoint also truncates
    the candidate-generation lineage, so downstream reuse never
    re-explodes shingles."""
    if score == "containment":
        score_col = F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))
    elif score == "jaccard":
        score_col = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    else:
        raise ValueError(f"score must be 'jaccard' or 'containment', got {score!r}")
    return (
        pairs.withColumn(score, F.round(score_col, 6))
        .filter(F.col(score) >= threshold)
        .select("id_a", "id_b", score)
        .localCheckpoint(eager=True)
    )


def _simhash_from_hashes():
    """Arrow-batched bit-vote kernel: array<long> shingle hashes -> 64-bit
    fingerprint. NumPy does the 64-lane ±1 voting as one matrix op per row;
    the equivalent Catalyst higher-order-function fold runs interpreted
    (no codegen for HOF lambdas) and measured ~40x slower."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _vote(hash_arrays: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        out = np.empty(len(hash_arrays), dtype=np.int64)
        for i, hs in enumerate(hash_arrays):
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            if h.size == 0:
                out[i] = 0
                continue
            bits = (h[:, None] >> shifts) & np.uint64(1)  # (n_shingles, 64)
            votes = bits.sum(axis=0) * 2 > h.size  # majority of 1s per lane
            fp = int(np.bitwise_or.reduce(votes.astype(np.uint64) << shifts))
            out[i] = fp - (1 << 64) if fp >= (1 << 63) else fp  # two's complement
        return pd.Series(out)

    return _vote


def simhash64(col: Column, k_grams: int = 2) -> Column:
    """64-bit SimHash of a text column.

    Shingle hashing stays JVM-side (xxhash64 in one array transform); the
    64-lane bit voting runs in an Arrow-vectorized pandas UDF (NumPy matrix
    op) — the measured-fast split between codegen and vectorized Python.
    """
    shingles = word_shingles(col, k_grams)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    return _simhash_from_hashes()(hashes)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int | None = None,
    max_band_freq: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into
    ``bands`` chunks, equi-join on (band_no, band value), then verify true
    Hamming distance via bit_count(xor).

    Pigeonhole recall guarantee: a pair at Hamming distance d differs in d
    bit positions, which can dirty at most d bands — so a shared clean band
    is guaranteed only when ``d <= bands - 1``. ``bands=None`` derives the
    smallest 64-divisor satisfying ``bands >= max_hamming + 1``; an explicit
    ``bands <= max_hamming`` raises rather than silently dropping pairs
    whose differing bits spread one-per-band.

    ``max_band_freq`` is the hot-bucket guard (the band-side analog of
    ``ngram_jaccard_pairs.max_doc_freq``): a degenerate band value — e.g.
    the all-zero bands that every empty/near-empty document hashes to —
    holds d documents and alone contributes O(d²) join output. Buckets with
    more than ``max_band_freq`` members are dropped from candidate
    generation; mass-identical documents belong to the exact tier
    (dedup_exact), which handles them with one shuffle and no pairing.
    """
    if bands is None:
        bands = next(b for b in (2, 4, 8, 16, 32, 64) if b >= max_hamming + 1)
    if 64 % bands:
        raise ValueError(f"bands must divide 64, got {bands}")
    if bands <= max_hamming:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming={max_hamming}: "
            f"need bands >= max_hamming + 1 (a pair can dirty {max_hamming} bands)"
        )
    band_bits = 64 // bands
    # Materialize the fingerprint table (id, fp — 16 bytes/row) ONCE.
    # Without this the plan evaluates the Arrow-vectorized voting UDF per
    # consumer — the hot-bucket count and EACH leg of the band self-join —
    # and the join keys' IsNotNull constraints additionally push a derived
    # isnotnull(fp) filter below spread()'s repartition, re-running the
    # UDF again under it (guide §4.4's duplication, measured: 6
    # ArrowEvalPython nodes over 3 full text scans in one query). The
    # eager localCheckpoint is the same narrow-signature-table pattern the
    # minhash tier uses; banding/cap/join re-derive from checkpointed
    # longs with JVM bit ops only.
    fp = (
        spread(df)
        .select(F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("fp"))
        .localCheckpoint(eager=True)
    )
    banded = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.shiftright(F.col("fp"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "fp", "band.band_no", "band.band_val")
    banded = _cap_hot_buckets(banded, max_band_freq)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def _cap_hot_buckets(banded: DataFrame, max_band_freq: int | None) -> DataFrame:
    """Drop LSH band buckets holding more than ``max_band_freq`` members.

    A bucket of size d produces O(d²) candidate pairs in the self-join; one
    degenerate value (empty-text fingerprints, a boilerplate band shared by
    millions of docs) is the single worst skew risk of the banded tiers at
    100 TB. The cap bounds per-bucket join fan-out to max_band_freq²; the
    docs it drops are mass-duplicates that the exact tier already collapses
    linearly. None = uncapped (exact candidate semantics).
    """
    if max_band_freq is None:
        return banded
    # the OVER-cap list is tiny (degenerate buckets only), so broadcast an
    # anti-join instead of shuffling the whole banded relation against an
    # under-cap whitelist; the frequency count itself combines map-side
    hot = (
        banded.groupBy("band_no", "band_val")
        .count()
        .filter(F.col("count") > max_band_freq)
        .select("band_no", "band_val")
    )
    return banded.join(F.broadcast(hot), ["band_no", "band_val"], "left_anti")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k_shingle: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as pure DataFrame ops: the i-th component is
    min over shingles of xxhash64(shingle, seed, i), computed ROW-LOCALLY
    over the shingle array (one hashing transform + num_hashes array_min
    folds) — no explode, no exchange, no aggregation state; the signature
    pass is a pure map and only downstream consumers (banding, rejoin)
    ever shuffle the (id, 64 longs) table.

    Precondition: ``id_col`` values are UNIQUE (the usual doc-id
    contract). The row-local form emits one signature row per INPUT ROW;
    the pre-r13 explode+groupBy(id) form would instead have merged the
    shingle sets of duplicate-id rows into one signature. Callers here
    all feed primary-key ids; pass deduplicated input if yours are not.
    """
    sh = spread(df).select(
        F.col(id_col).alias("id"), word_shingles(F.col(text_col), k_shingle).alias("shingles")
    )
    return minhash_signatures_from_shingles(sh, num_hashes=num_hashes, seed=seed)


def minhash_signatures_from_shingles(
    shingled: DataFrame, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """:func:`minhash_signatures` over a precomputed ``(id, shingles)``
    table — the sharing hook for callers that need the raw shingle arrays
    for another leg of the same query (e.g. the calibration report's
    exact-Jaccard scoring): one shingling pass feeds both. Signatures are
    bit-identical to the text-input form (same Carter-Wegman arithmetic).
    Zero-shingle rows are dropped, matching the text form."""
    # Carter-Wegman family: hash_i(s) = (h1 + i*h2) mod p from two base
    # xxhash64 draws — hashing each shingle twice instead of num_hashes
    # times. p = 2^31-1 keeps i*h2 far from BIGINT overflow (ANSI mode
    # would raise). Row-local array folds replaced the previous
    # explode + 64-fused-MIN groupBy: signatures are bit-identical
    # (pinned by test), the exploded-row materialization and its
    # id-keyed exchange disappear, and the 64 array transforms compile
    # markedly cheaper than 64 aggregate trees (cold-codegen rep measured
    # 2.7 s -> 1.5 s; warm exec 1.4 -> 1.1-1.3 s at sf0.1).
    p = (1 << 31) - 1
    sh = shingled.select("id", "shingles").filter(F.size("shingles") > 0)
    hp = sh.select(
        "id",
        F.transform(
            "shingles",
            lambda s: F.struct(
                F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(p)).alias("h1"),
                F.pmod(F.xxhash64(s, F.lit(seed + 1)), F.lit(p)).alias("h2"),
            ),
        ).alias("hp"),
    )
    return hp.select(
        "id",
        F.array(
            *[
                F.array_min(F.transform("hp", lambda s: (s["h1"] + i * s["h2"]) % p))
                for i in range(num_hashes)
            ]
        ).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_band_freq: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, Spark-native.

    Banding: the signature splits into ``bands`` bands of r=num_hashes/bands
    rows; candidate pairs share at least one exact band (P[cand] =
    1-(1-j^r)^bands — steep around the threshold). Candidates then get an
    unbiased Jaccard estimate from full-signature agreement and are filtered
    at ``jaccard_threshold``. Hash-seed dependent — rows-only in the oracle
    gate; recall vs the exact tier is asserted in tests.

    ``max_band_freq`` caps degenerate band buckets (see _cap_hot_buckets):
    a band value shared by d docs costs O(d²) in the candidate join, and at
    corpus scale one boilerplate cluster can dominate the whole stage.

    ``shingled``: optional precomputed ``(id, shingles)`` table (see
    :func:`minhash_signatures_from_shingles`) — signatures are derived
    from it instead of re-shingling ``df``; bit-identical output. When it
    is passed, ``df``, ``text_col`` and ``id_col`` are ignored and the
    table is trusted as given: its ``id`` values must be ``df``'s
    ``id_col`` values, or the pairs name ids the caller cannot join back.
    """
    r = num_hashes // bands
    if shingled is not None:
        sig = minhash_signatures_from_shingles(shingled, num_hashes, seed=seed)
    else:
        sig = minhash_signatures(df, text_col, id_col, num_hashes, seed=seed)
    sig.persist()
    sig.count()  # materialize once: the signature pipeline feeds 4 branches

    # band join moves only (id, band_no, band_val) — the 64-long signature
    # arrays stay out of the exchange and rejoin after candidate dedup
    banded = _band_signatures(sig, bands, r)
    banded = _cap_hot_buckets(banded, max_band_freq)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b"))
    scored = cand.join(sa, "id_a").join(sb, "id_b")
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = agree / F.lit(float(num_hashes))
    return (
        scored.withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def _band_signatures(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, signature) -> (id, band_no, band_val): one xxhash64 per band
    over its r signature components — only 16 longs per doc cross the
    candidate exchange, never the 64-long signature."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_no"),
                        F.xxhash64(
                            *[F.element_at("signature", b * r + j + 1) for j in range(r)]
                        ).alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_no", "band.band_val")


def minhash_cross_pairs(
    delta: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_band_freq: int | None = None,
) -> DataFrame:
    """Incremental NEAR-dup: delta docs LSH-banded against the EXISTING
    corpus state — the daily-ingest shape of :func:`minhash_lsh_pairs`.

    The state side's signatures/bands are exactly what a production
    pipeline persists at ingest time (deterministic given the seed), so
    the daily cost is: signature pass over the DELTA, plus a band
    equi-join delta x state whose left side is delta-sized. Within-delta
    duplicates are NOT reported here (run minhash_lsh_pairs on the delta
    for that); this operator answers only "which delta docs does the
    corpus already cover, and by what doc".

    Returns (delta_id, state_id, jaccard_est) for estimated Jaccard >=
    threshold. Same banding S-curve, hot-bucket cap, and
    signatures-stay-out-of-the-exchange contract as the one-table op.
    """
    r = num_hashes // bands
    sig_d = minhash_signatures(delta, text_col, id_col, num_hashes, seed=seed)
    sig_s = minhash_signatures(state, text_col, id_col, num_hashes, seed=seed)
    bd = _band_signatures(sig_d, bands, r)
    bs = _cap_hot_buckets(_band_signatures(sig_s, bands, r), max_band_freq)
    cand = (
        bd.alias("d")
        .join(
            bs.alias("s"),
            (F.col("d.band_no") == F.col("s.band_no"))
            & (F.col("d.band_val") == F.col("s.band_val")),
        )
        .select(F.col("d.id").alias("delta_id"), F.col("s.id").alias("state_id"))
        .dropDuplicates(["delta_id", "state_id"])
    )
    sa = sig_d.select(F.col("id").alias("delta_id"), F.col("signature").alias("sig_a"))
    sb = sig_s.select(F.col("id").alias("state_id"), F.col("signature").alias("sig_b"))
    scored = cand.join(sa, "delta_id").join(sb, "state_id")
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = agree / F.lit(float(num_hashes))
    return (
        scored.withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("delta_id", "state_id", "jaccard_est")
    )
