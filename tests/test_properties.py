"""Property-based tests (hypothesis) for the engine's pure/composable cores:
reconciler verdicts, rolling-hash fingerprint, salted-join equivalence."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from canvas_data_aws_spark.ingest.reconciler import RAW_PREFIX, plan_verdicts
from canvas_data_aws_spark.operators.text import FP_BASE, FP_MOD
from canvas_data_aws_spark.plans.ingest_q import reconcile

_names = st.sets(
    st.text(alphabet="abcdef0123456789", min_size=1, max_size=6), min_size=0, max_size=12
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from canvas_data_aws_spark.session import get_spark

        _spark = get_spark(app_name="cda-prop", master="local[2]", shuffle_partitions=2)
    return _spark


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(remote=_names, local=_names)
def test_reconcile_verdict_partition(remote, local):
    """Verdicts partition the key universe exactly like set algebra:
    fetch = remote-local, delete = local-remote (mirror mode only),
    skip = intersection — and the engine's Python planner and the
    DataFrame ``reconcile`` agree on every key, in both modes."""
    spark = _get_spark()
    remote_rows = [{"table": "t", "filename": f"{n}.gz", "url": None} for n in sorted(remote)]
    from pyspark.sql import Row
    from pyspark.sql.types import StringType, StructField, StructType

    remote_df = spark.createDataFrame(
        [Row(table="t", filename=f"{n}.gz", url=None) for n in sorted(remote)],
        StructType(
            [
                StructField("table", StringType()),
                StructField("filename", StringType()),
                StructField("url", StringType()),
            ]
        ),
    )
    local_df = spark.createDataFrame(
        [Row(key=f"{RAW_PREFIX}t/{n}.gz") for n in sorted(local)],
        StructType([StructField("key", StringType())]),
    )
    key = lambda n: f"{RAW_PREFIX}t/{n}.gz"
    local_keys = {key(n) for n in local}
    for additive in (False, True):
        plan = {
            r["key"]: r["verdict"]
            for r in reconcile(remote_df, local_df, additive=additive).collect()
        }
        py_plan = {
            r.key: r.verdict
            for r in plan_verdicts(remote_rows, local_keys, additive=additive)
        }
        assert py_plan == plan

        assert {k for k, v in plan.items() if v == "fetch"} == {key(n) for n in remote - local}
        deletes = set() if additive else {key(n) for n in local - remote}
        assert {k for k, v in plan.items() if v == "delete"} == deletes
        assert {k for k, v in plan.items() if v == "skip"} == {key(n) for n in remote & local}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abcdefghij XYZ", min_size=0, max_size=40), min_size=1, max_size=8
    )
)
def test_fingerprint_matches_python_reference(texts):
    """The Spark rolling hash equals an independent pure-Python evaluation
    of the same recurrence (engine-portability property)."""
    spark = _get_spark()
    from canvas_data_aws_spark.operators.text import fingerprint_rolling

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["fp"]
        for r in df.select("i", fingerprint_rolling(F.col("t")).alias("fp")).collect()
    }

    def ref(t: str) -> int:
        acc = 0
        for ch in t.strip().lower():
            acc = (acc * FP_BASE + ord(ch)) % FP_MOD
        return acc

    for i, t in enumerate(texts):
        assert got[i] == ref(t), (t, got[i], ref(t))


def test_ewma_long_key_matches_pandas(tmp_path):
    """Segmented ts_ewma on a SINGLE key spanning >3 segments (1600 rows,
    segment size 512) equals pandas ewm(adjust=True) after the query's 4dp
    rounding — pinning the depth-1 carry-chain truncation claim by test:
    history older than one full segment carries weight <= 0.7^512 ~ 2e-80
    (below one double ulp), so the truncated closed form and pandas' exact
    recurrence must agree bit-for-bit at 4dp."""
    import datetime as dt

    import pandas as pd

    from canvas_data_aws_spark.plans.registry import all_queries

    spark = _get_spark()
    n = 1600
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            7,  # one user: one window partition, 4 segments
            i,
            base + dt.timedelta(seconds=i),
            ((i * 2654435761) % 997) / 97.0,  # deterministic, non-round values
        )
        for i in range(1, n + 1)
    ]
    d = str(tmp_path / "ewma")
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).write.parquet(f"{d}/events.parquet")

    out = all_queries()["ts_ewma"].fn(spark, d).orderBy("event_id").collect()
    got = [r["ewma"] for r in out]
    want = (
        pd.Series([r[3] for r in rows]).ewm(alpha=0.3, adjust=True).mean().tolist()
    )
    assert len(got) == n
    for i, (g, w) in enumerate(zip(got, want)):
        # 4dp bit-equality modulo the engines' half-rounding convention:
        # require the unrounded reference to round to the same 4dp value
        # within one ulp of the rounding boundary
        assert abs(g - w) < 0.5e-4 + 1e-9, (i, g, w)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    )
)
def test_dup_ngram_spans_matches_bruteforce(docs, tmp_path_factory):
    """corpus_dup_ngram_spans (shingle -> corpus-duplicate detection ->
    per-doc interval merge) equals an independent pure-Python computation
    of duplicated-span token coverage. The 3-letter alphabet forces heavy
    8-gram collisions, exercising overlapping-island merging."""
    from collections import Counter

    from canvas_data_aws_spark.plans.registry import all_queries

    spark = _get_spark()
    K = 8
    texts = [" ".join(ws) for ws in docs]
    d = str(tmp_path_factory.mktemp("dupspan"))
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.parquet(f"{d}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in all_queries()["corpus_dup_ngram_spans"].fn(spark, d).collect()
    }

    # brute force: same normalization (lower/collapse/trim), DISTINCT
    # shingles per doc (word_shingles default), global count, covered set
    def toks(t):
        return [w for w in " ".join(t.lower().split()).split(" ") if w != ""] if t.strip() else []

    words = {i: toks(t) for i, t in enumerate(texts)}
    # distinct=False semantics (what the query and its oracle implement):
    # EVERY occurrence counts — a doc-internal 8-gram repeat alone marks
    # both its spans as duplicated, with or without a cross-doc twin
    counts = Counter()
    for ws in words.values():
        for p in range(len(ws) - K + 1):
            counts[" ".join(ws[p : p + K])] += 1
    for i, ws in words.items():
        if not texts[i].strip():
            assert i not in out  # empty docs filtered
            continue
        covered = set()
        for p in range(len(ws) - K + 1):
            if counts[" ".join(ws[p : p + K])] > 1:
                covered |= set(range(p, p + K))
        got_n, got_dup = out[i]
        assert got_dup == len(covered), (i, texts[i], got_dup, len(covered))


def test_zorder_interleave_matches_python_reference():
    """The Morton bit-interleave inside table_zorder_clustering equals an
    independent pure-Python interleave for every 8-bit pair (exhaustive on
    a grid)."""
    import pyspark.sql.functions as F

    spark = _get_spark()
    pairs = [(c, d) for c in range(0, 256, 17) for d in range(0, 256, 13)]
    df = spark.createDataFrame(pairs, "cb long, db long")
    z = None
    for i in range(8):
        c_term = F.shiftleft(F.col("cb").bitwiseAND(F.lit(1 << i)), i + 1)
        d_term = F.shiftleft(F.col("db").bitwiseAND(F.lit(1 << i)), i)
        term = c_term.bitwiseOR(d_term)
        z = term if z is None else z.bitwiseOR(term)
    got = {(r["cb"], r["db"]): r["z"] for r in df.select("cb", "db", z.alias("z")).collect()}

    def ref(c, d):
        out = 0
        for i in range(8):
            out |= ((c >> i) & 1) << (2 * i + 1)
            out |= ((d >> i) & 1) << (2 * i)
        return out

    for c, d in pairs:
        assert got[(c, d)] == ref(c, d), (c, d, got[(c, d)], ref(c, d))


def test_cuped_reduces_user_level_variance(spark, sf_dir):
    """The point of CUPED: Var(Y - theta*(X - mean X)) <= Var(Y) at the
    user level. Recompute per-user (x, y) directly, apply the QUERY's
    theta, and check the variance actually shrank (the fixture has
    pre/post correlation by construction — users keep their spend
    habits), and that theta is finite and shared across variant rows."""
    import numpy as np

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["events_ab_cuped"].fn(spark, sf_dir).collect()
    assert len(rows) == 2
    thetas = {r.theta for r in rows}
    assert len(thetas) == 1
    theta = thetas.pop()
    assert np.isfinite(theta)

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    cut = (lo + hi) // 2
    pu = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.unix_micros("ts") < cut, F.col("value")).otherwise(0.0)).alias("x"),
            F.sum(F.when(F.unix_micros("ts") >= cut, F.col("value")).otherwise(0.0)).alias("y"),
        )
        .toPandas()
    )
    x, y = pu["x"].to_numpy(), pu["y"].to_numpy()
    raw_var = y.var()
    adj_var = (y - theta * (x - x.mean())).var()
    assert adj_var <= raw_var + 1e-9, (adj_var, raw_var)
    # theta should be close to the numpy covariance ratio (decimal
    # quantization of the moments perturbs it below 1e-6 relative)
    theta_np = np.cov(x, y, bias=True)[0, 1] / x.var()
    assert abs(theta - theta_np) <= 1e-6 * max(1.0, abs(theta_np))


def test_holt_linear_matches_reference_loop(spark, sf_dir):
    """The recursive-CTE Holt smoother must equal the textbook sequential
    loop (alpha=0.5, beta=0.3, l0=y0, b0=y1-y0) to double precision."""
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = sorted(
        all_queries()["ts_holt_linear"].fn(spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    assert rows and rows[0].t == 0
    ys = [r.y for r in rows]
    level, trend = ys[0], ys[1] - ys[0]
    assert rows[0].level == level and rows[0].trend == trend
    for i in range(1, len(rows)):
        new_level = 0.5 * ys[i] + 0.5 * (level + trend)
        trend = 0.3 * (new_level - level) + 0.7 * trend
        level = new_level
        assert abs(rows[i].level - level) < 1e-9, i
        assert abs(rows[i].trend - trend) < 1e-9, i
        assert rows[i].forecast_next == rows[i].level + rows[i].trend


def test_winnowing_density_bounds_and_dup_consistency(spark, sf_dir):
    """Winnowing selection bounds: every window of 4 grams contributes at
    least one selected fingerprint, and a selection can cover at most 4
    windows -> 4*n_fp >= n_windows; n_fp <= n_grams. Exact-duplicate docs
    (identical normalized text) must report identical fingerprint
    summaries — the MOSS matching property at its strongest."""
    from collections import defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["doc_fingerprint_winnowing"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n_windows = max(r.n_grams - 3, 1)
        assert r.n_fp <= r.n_grams
        assert 4 * r.n_fp >= n_windows, (r.doc_id, r.n_fp, r.n_grams)

    norm = {
        r.doc_id: r.t
        for r in load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).alias("t"),
        )
        .collect()
    }
    by_text = defaultdict(list)
    for did, t in norm.items():
        by_text[t].append(did)
    summaries = {r.doc_id: (r.n_fp, r.min_fp, r.max_fp) for r in rows}
    dup_groups = [g for g in by_text.values() if len(g) > 1 and g[0] in summaries]
    # sf0.001 has no exact-dup texts (sf0.01, where the driver contract
    # runs, does) — when present they must fingerprint identically
    for g in dup_groups:
        vals = {summaries[d] for d in g if d in summaries}
        assert len(vals) == 1, f"dup group {g} diverged: {vals}"
    # and the selection must be deterministic run-to-run
    rows2 = all_queries()["doc_fingerprint_winnowing"].fn(spark, sf_dir).collect()
    assert summaries == {r.doc_id: (r.n_fp, r.min_fp, r.max_fp) for r in rows2}


def test_benford_shares_sum_to_one(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = all_queries()["dq_benford_first_digit"].fn(spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-12
    assert all(r.chi_term >= 0 for r in rows)
    assert abs(sum(r.benford_share for r in rows) - 1.0) < 1e-12


def test_cumulative_distinct_users_invariants(spark, sf_dir):
    """cum must be monotone, end at the total distinct-user count, and the
    day table the broadcast theta-join squares must stay span-bounded
    (the linter-warn justification: days, not rows)."""
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = sorted(
        all_queries()["events_cumulative_distinct_users"].fn(spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    assert rows
    assert len(rows) < 5000, "day spine must stay broadcast-small"
    total = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[-1].cum_users == total
    assert sum(r.n_new for r in rows) == total
    prev = 0
    for r in rows:
        assert r.cum_users == prev + r.n_new
        prev = r.cum_users


def test_duplicate_purchase_screen_pair_semantics(spark, sf_dir):
    """Each qualifying pair appears exactly once with event_a < event_b,
    the gap respects the 1 h bound, and the report matches a brute-force
    pandas recount of qualifying pairs."""
    from itertools import combinations

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = (
        all_queries()["events_duplicate_purchase_screen"].fn(spark, sf_dir).collect()
    )
    seen = set()
    for r in rows:
        assert r.event_a < r.event_b
        assert 0 <= r.gap_s <= 3600
        assert r.same_value == int(r.value_a == r.value_b)
        assert (r.event_a, r.event_b) not in seen
        seen.add((r.event_a, r.event_b))

    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user = {}
    for p in purchases:
        by_user.setdefault(p.user_id, []).append(p)
    expect = set()
    for evs in by_user.values():
        for a, b in combinations(sorted(evs, key=lambda e: e.event_id), 2):
            if abs(a.us - b.us) <= 3600 * 1_000_000:
                expect.add((a.event_id, b.event_id))
    assert seen == expect


def test_twap_matches_pandas_and_bounds(spark, sf_dir):
    """TWAP must equal the pandas-computed time-weighted mean of the
    1e-6-rounded values exactly (the weighted sum is DECIMAL-exact, the
    final quotient is one double op), and must lie within the per-user
    value range."""
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    got = {
        r.user_id: r
        for r in all_queries()["ts_time_weighted_avg"].fn(spark, sf_dir).collect()
    }
    assert got
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "value", F.unix_micros("ts").alias("us"))
        .collect()
    )
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    for uid, evs in by_user.items():
        evs.sort(key=lambda e: (e.us, e.event_id))
        if len(evs) < 2:
            assert uid not in got
            continue
        wsum = 0
        span = 0
        for a, b in zip(evs, evs[1:]):
            dt = b.us - a.us
            wsum += round(a.value * 1_000_000) * dt
            span += dt
        r = got[uid]
        assert r.n_segments == len(evs) - 1
        assert r.span_s == span // 1_000_000
        assert r.twap == wsum / (1_000_000.0 * span), uid
        vals = [e.value for e in evs[:-1]]
        assert min(vals) - 1e-6 <= r.twap <= max(vals) + 1e-6


def test_survival_hazard_invariants(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = sorted(
        all_queries()["events_survival_hazard"].fn(spark, sf_dir).collect(),
        key=lambda r: r.dur,
    )
    assert rows
    n_users = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_churned + r.n_censored for r in rows) == n_users
    assert rows[0].n_at_risk == n_users
    prev = None
    remaining = n_users
    for r in rows:
        assert r.n_at_risk == remaining
        assert 0.0 <= r.hazard <= 1.0
        assert r.hazard == r.n_churned / r.n_at_risk
        remaining -= r.n_churned + r.n_censored
        if prev is not None:
            assert r.n_at_risk < prev
        prev = r.n_at_risk
    assert remaining == 0


def test_functional_dependency_verdicts(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = {r.fd: r for r in all_queries()["dq_functional_dependency"].fn(spark, sf_dir).collect()}
    assert len(rows) == 6
    # true keys hold
    assert rows["orders: o_orderkey -> o_custkey"].n_violating == 0
    assert rows["documents: doc_id -> lang"].n_violating == 0
    # deliberately-violated candidates must register violations
    assert rows["events: user_id -> event_type"].n_violating > 0
    for r in rows.values():
        assert 0.0 <= r.violation_share <= 1.0
        assert r.violation_share == r.n_violating / r.n_keys
        assert r.max_rhs_distinct >= 1
        assert (r.n_violating == 0) == (r.max_rhs_distinct == 1)


def test_langid_confusion_consistency(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    qs = all_queries()
    rows = qs["text_langid_confusion"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    per_label = {}
    for r in rows:
        per_label.setdefault(r.labeled_lang, []).append(r)
        assert r.is_correct == int(r.labeled_lang == r.pred_lang)
    for label, cells in per_label.items():
        n_labeled = cells[0].n_labeled
        assert all(c.n_labeled == n_labeled for c in cells)
        assert sum(c.n for c in cells) == n_labeled
        assert abs(sum(c.share_of_labeled for c in cells) - 1.0) < 1e-9
    # the matrix must agree cell-for-cell with the per-doc text_lang_id view
    preds = qs["text_lang_id"].fn(spark, sf_dir).collect()
    from collections import Counter

    expect = Counter((p.labeled_lang, p.pred_lang) for p in preds)
    assert {(r.labeled_lang, r.pred_lang): r.n for r in rows} == dict(expect)


def test_mix_shift_decomposition_identity(spark, sf_dir):
    """The three effects must reconstruct the revenue delta exactly (up to
    float addition of three terms), and per-segment counts must partition
    the segment's orders."""
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["orders_mix_shift_decomposition"].fn(spark, sf_dir).collect()
    assert rows
    totals = {
        r.o_orderpriority: r.n
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n1 + r.n2 == totals[r.segment]
        assert r.n1 > 0 and r.n2 > 0
        recon = r.volume_effect + r.rate_effect + r.mix_cross_effect
        assert abs(recon - r.delta) <= 1e-6 * max(1.0, abs(r.delta)), r.segment
        assert abs(r.delta - (r.rev2 - r.rev1)) < 1e-9


def test_global_shuffle_is_permutation_and_deterministic(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    fn = all_queries()["corpus_global_shuffle"].fn
    rows = fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert {r.doc_id for r in rows} == {
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    by_shard = {}
    for r in rows:
        assert 0 <= r.shard <= 15
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # same seed => identical epoch order, independent of execution layout
    again = {(r.doc_id): (r.shard, r.pos) for r in fn(spark, sf_dir).collect()}
    assert again == {r.doc_id: (r.shard, r.pos) for r in rows}


def test_backtest_rolling_origin_exactness_and_shape(spark, sf_dir):
    """15 (fold x type) cells; each fold's profile uses strictly more
    training data than the previous (expanding window); MAE must be
    non-negative and |bias| <= MAE."""
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = all_queries()["ts_backtest_rolling_origin"].fn(spark, sf_dir).collect()
    folds = {r.fold for r in rows}
    assert folds == {1, 2, 3}
    for r in rows:
        assert r.n_eval > 0
        assert r.mae >= 0
        assert abs(r.bias) <= r.mae + 1e-12
    # determinism at a different shuffle-partition count: exact integer
    # arithmetic means the values cannot drift with partition layout
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = all_queries()["ts_backtest_rolling_origin"].fn(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert {(r.fold, r.event_type, r.n_eval, r.mae, r.bias) for r in rows} == {
        (r.fold, r.event_type, r.n_eval, r.mae, r.bias) for r in again
    }


def test_srm_check_math(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    r = all_queries()["events_ab_srm_check"].fn(spark, sf_dir).collect()[0]
    users = [
        u.user_id
        for u in load_table(spark, sf_dir, "events").select("user_id").distinct().collect()
    ]
    n_a = sum(1 for u in users if u % 2 == 0)
    assert (r.n_a, r.n_b) == (n_a, len(users) - n_a)
    assert r.chi_sq == (r.n_a - r.n_b) ** 2 / len(users)
    assert r.srm_suspect == int((r.n_a - r.n_b) ** 2 * 100 > 384 * len(users))


def test_power_mde_matches_numpy(spark, sf_dir):
    import numpy as np

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    r = all_queries()["events_ab_power_mde"].fn(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").collect()
    spend = {}
    for e in ev:
        spend.setdefault(e.user_id, 0.0)
        if e.event_type == "purchase":
            spend[e.user_id] += round(e.value, 6)
    x = np.array([round(v, 6) for v in spend.values()])
    assert r.n_a + r.n_b == len(x)
    assert abs(r.mean_metric - x.mean()) < 1e-6
    sd = x.std(ddof=1)
    assert abs(r.sd_metric - sd) < 1e-5 * max(1.0, sd)
    expect_mde = 2.801585 * sd * np.sqrt(1.0 / r.n_a + 1.0 / r.n_b)
    assert abs(r.mde_abs - expect_mde) < 1e-5 * expect_mde
    assert abs(r.mde_rel - r.mde_abs / r.mean_metric) < 1e-12
    assert r.mde_abs > 0


def test_padding_waste_monotone_on_doubling_chain(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = {
        r.seq_len: r
        for r in all_queries()["corpus_padding_waste"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {256, 512, 1024, 2048}
    prev_padded = 0
    for L in (256, 512, 1024, 2048):
        r = rows[L]
        assert r.total_padded >= r.total_tokens
        assert r.waste_tokens == r.total_padded - r.total_tokens
        assert 0.0 <= r.waste_share < 1.0
        assert r.total_padded % L == 0
        # rounding up to multiples of 2L dominates rounding up to L
        assert r.total_padded >= prev_padded
        prev_padded = r.total_padded
        assert r.total_tokens == rows[256].total_tokens


def test_backlog_aging_partitions_open_orders(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["orders_backlog_aging"].fn(spark, sf_dir).collect()
    open_n = (
        load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F").count()
    )
    assert sum(r.n_orders for r in rows) == open_n
    assert {r.status for r in rows} <= {"O", "P"}
    assert {r.bucket for r in rows} <= {"00-030", "031-090", "091-180", "181+"}
    for r in rows:
        assert r.open_value > 0


def test_k_core_min_degree_and_fixpoint(spark, sf_dir):
    """Every surviving vertex must have core degree >= k, and one more
    peel round must be a no-op (the fixture converges inside the fixed
    budget, making the fixed-rounds == oracle contract honest)."""
    from canvas_data_aws_spark.operators.clustering import k_core
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["graph_k_core"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.core_degree >= 10 for r in rows)

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    eda = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("src"), (F.col("l_suppkey") + 1_000_000).alias("dst"))
        .distinct()
    )
    sym = eda.unionAll(eda.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    more = {(r.src, r.core_degree) for r in k_core(sym, k=10, rounds=5).collect()}
    assert more == {(r.id, r.core_degree) for r in rows}


def test_hashing_vectorizer_semantics(spark, sf_dir):
    """Buckets/signs must match a local md5 reconstruction (pinning the
    exact hashing-trick semantics), weights must satisfy the sign-sum
    parity bound, and identical normalized docs must vectorize
    identically."""
    import hashlib
    import re
    from collections import defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["text_hashing_vectorizer"].fn(spark, sf_dir).collect()
    by_doc = defaultdict(dict)
    for r in rows:
        assert 0 <= r.bucket < 64
        assert abs(r.weight) <= r.n_terms
        assert (r.weight - r.n_terms) % 2 == 0
        by_doc[r.doc_id][r.bucket] = (r.weight, r.n_terms)

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text and r.text.strip()
    }
    hexd = "0123456789abcdef"
    for doc_id, text in list(docs.items())[:25]:
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        expect = defaultdict(lambda: [0, 0])
        for word in norm.split(" "):
            h = hashlib.md5(word.encode()).hexdigest()
            b = (hexd.index(h[0]) * 16 + hexd.index(h[1])) % 64
            s = 1 if hexd.index(h[2]) < 8 else -1
            expect[b][0] += s
            expect[b][1] += 1
        assert by_doc[doc_id] == {b: tuple(v) for b, v in expect.items()}, doc_id


def test_fulfillment_lag_order_and_counts(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["lineitem_fulfillment_lag"].fn(spark, sf_dir).collect()
    assert rows
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    total = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert sum(r.n_lines for r in rows) == total
    for r in rows:
        assert r.min_lag <= r.p25 <= r.p50 <= r.p75 <= r.p95 <= r.max_lag


def test_hhi_bounds_and_balance(spark, sf_dir):
    """HHI must lie in [1/n_suppliers, 1], and recomputing from collected
    per-supplier revenues must agree."""
    from collections import defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["supplier_concentration_hhi"].fn(spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = {
        r.s_suppkey: r.s_nationkey
        for r in load_table(spark, sf_dir, "supplier").collect()
    }
    nat = {
        r.n_nationkey: r.n_name
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    rev = defaultdict(lambda: defaultdict(int))
    for r in li.collect():
        rev[nat[sup[r.l_suppkey]]][r.l_suppkey] += round(r.l_extendedprice * 100)
    for r in rows:
        cents = list(rev[r.nation].values())
        assert r.n_suppliers == len(cents)
        tot = sum(cents)
        expect = sum(c * c for c in cents) / (tot * tot)
        assert abs(r.hhi - expect) < 1e-12
        # identical float-op chain both engines; a lone supplier can land
        # 1 ulp above 1.0 (ssq and (tot*100)^2 round differently)
        assert 1.0 / r.n_suppliers - 1e-12 <= r.hhi <= 1.0 + 1e-12


def test_vocab_coverage_curve_monotone(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = sorted(
        all_queries()["corpus_vocab_coverage_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.vocab_size,
    )
    assert [r.vocab_size for r in rows] == [1000, 5000, 10000, 50000]
    totals = {r.total_tokens for r in rows}
    assert len(totals) == 1
    prev = 0
    for r in rows:
        assert r.covered_tokens >= prev
        prev = r.covered_tokens
        assert r.covered_tokens <= r.total_tokens
        assert abs(r.coverage - r.covered_tokens / r.total_tokens) < 1e-15
    assert rows[-1].coverage <= 1.0


def test_scan_csv_quoted_hazards(spark, sf_dir):
    """All four CSV hazards must survive the round trip: embedded commas,
    RFC-4180 doubled quotes, embedded newline (multiLine), empty->null."""
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = {r.id: r for r in all_queries()["scan_csv_quoted"].fn(spark, sf_dir).collect()}
    assert len(rows) == 5
    assert rows[2].note == "has, commas, inside"
    assert rows[3].note == 'says "hi" twice'
    assert rows[4].note == "line one\nline two"
    assert rows[5].note is None
    assert rows[1].amount == 10.5


def test_dedup_bias_audit_consistency(spark, sf_dir):
    """Cohort counts must reconcile with the canonical-dedup keeper rule:
    kept == number of distinct digests, kept + dropped == corpus size,
    and per-source totals match the raw source mix."""
    from collections import Counter

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["corpus_dedup_bias_audit"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text").collect()
    import hashlib
    import re

    digests = Counter()
    by_source = Counter()
    for d in docs:
        norm = re.sub(r"\s+", " ", d.text.lower()).strip()
        digests[hashlib.md5(norm.encode()).hexdigest()] += 1
        by_source[d.source] += 1
    n_kept = sum(r.n_docs for r in rows if r.cohort == "kept")
    n_dropped = sum(r.n_docs for r in rows if r.cohort == "dropped")
    assert n_kept == len(digests)
    assert n_kept + n_dropped == len(docs)
    got_by_source = Counter()
    for r in rows:
        got_by_source[r.source] += r.n_docs
        assert r.min_chars <= r.med_chars <= r.max_chars
    assert got_by_source == by_source


def test_markov_attribution_vs_independent_reimplementation(spark, sf_dir):
    """Rebuild the whole chain from raw events in pure python and compute
    absorption by POWER ITERATION (not the linear solve the operator
    uses); removal effects must agree to the rounding the operator
    ships. Shares must sum to 1 when any effect is positive."""
    from collections import Counter, defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = {
        r.channel: r
        for r in all_queries()["events_attribution_markov"].fn(spark, sf_dir).collect()
    }
    ev = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda e: (e.user_id, e.ts, e.event_id),
    )
    journeys = defaultdict(list)
    for e in ev:
        state = "CONV" if e.event_type == "purchase" else e.event_type
        j = journeys[e.user_id]
        if "CONV" not in j:
            j.append(state)
    counts = Counter()
    for j in journeys.values():
        path = ["START"] + j + ([] if j[-1] == "CONV" else ["NULL"])
        for a, b in zip(path, path[1:]):
            counts[(a, b)] += 1
    channels = sorted(
        ({a for a, _ in counts} | {b for _, b in counts}) - {"START", "CONV", "NULL"}
    )
    assert set(rows) == set(channels)

    def conv_prob_power(removed):
        keep = ["START"] + [c for c in channels if c != removed]
        probs = {}
        for s in keep:
            tot = sum(n for (a, _), n in counts.items() if a == s)
            probs[s] = {b: n / tot for (a, b), n in counts.items() if a == s} if tot else {}
        # power iteration over state distribution
        dist = {"START": 1.0}
        absorbed = 0.0
        for _ in range(200):
            nxt = defaultdict(float)
            for s, m in dist.items():
                for t, p in probs.get(s, {}).items():
                    if t == "CONV":
                        absorbed += m * p
                    elif t in keep:
                        nxt[t] += m * p
            dist = nxt
            if sum(dist.values()) < 1e-15:
                break
        return absorbed

    base = conv_prob_power(None)
    assert abs(rows[channels[0]].base_conv_prob - round(base, 6)) <= 1e-6
    effects = {}
    for c in channels:
        effects[c] = max(0.0, 1.0 - (conv_prob_power(c) / base if base > 0 else 0.0))
        assert abs(rows[c].removal_effect - effects[c]) <= 2e-6, c
    tot = sum(effects.values())
    if tot > 0:
        assert abs(sum(r.attribution_share for r in rows.values()) - 1.0) <= 1e-5


def test_bot_score_matches_pandas_moments(spark, sf_dir):
    import statistics

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = {r.user_id: r for r in all_queries()["events_bot_score"].fn(spark, sf_dir).collect()}
    assert rows
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"))
        .collect(),
        key=lambda e: (e.user_id, e.us, e.event_id),
    )
    from collections import defaultdict

    gaps = defaultdict(list)
    prev = {}
    for e in ev:
        if e.user_id in prev:
            gaps[e.user_id].append(e.us - prev[e.user_id])
        prev[e.user_id] = e.us
    for uid, gs in gaps.items():
        if len(gs) < 2:
            assert uid not in rows
            continue
        r = rows[uid]
        assert r.n_events == len(gs) + 1
        assert r.span_s == sum(gs) // 1_000_000
        mean = sum(gs) / len(gs)
        sd = statistics.stdev(gs)
        assert abs(r.gap_cv - sd / mean) < 1e-9
        assert r.flag_regular == int(r.gap_cv < 0.2)
        assert r.flag_high_rate == int((len(gs) + 1) * 3_600_000_000 > 50 * sum(gs))


def test_price_index_bounds_and_identity(spark, sf_dir):
    """Paasche <= Fisher <= Laspeyres ordering does NOT hold in general,
    but Fisher must be the geometric mean of the other two, all three
    positive, and the part filter must keep only parts traded in both
    periods."""
    import math

    from canvas_data_aws_spark.plans.registry import all_queries

    r = all_queries()["part_price_index"].fn(spark, sf_dir).collect()[0]
    assert r.n_parts > 0
    assert r.laspeyres > 0 and r.paasche > 0
    assert abs(r.fisher - math.sqrt(r.laspeyres * r.paasche)) < 1e-12


def test_burst_detection_thresholds(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = all_queries()["events_burst_detection"].fn(spark, sf_dir).collect()
    # sf0.001 fires at least once; every alert must satisfy the contract
    assert rows
    for r in rows:
        assert r.trailing_hours >= 12
        assert 2 * r.n * r.trailing_hours > 3 * r.trailing_n
        assert r.burst_ratio > 1.5 - 1e-12
        assert abs(r.burst_ratio - r.n * r.trailing_hours / r.trailing_n) < 1e-12


def test_readability_matches_local_recompute(spark, sf_dir):
    import re

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = {r.doc_id: r for r in all_queries()["text_readability"].fn(spark, sf_dir).collect()}
    docs = [
        r
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text and r.text.strip()
    ]
    assert len(rows) == len(docs)
    for d in docs[:50]:
        r = rows[d.doc_id]
        n_words = len(re.split(r"\s+", d.text.strip()))
        n_sent = max(len(re.findall(r"[.!?]+", d.text)), 1)
        n_syl = len(re.findall(r"[aeiouy]+", d.text.lower()))
        assert (r.n_words, r.n_sentences, r.n_syllables) == (n_words, n_sent, n_syl)
        ease = 206.835 - 1.015 * (n_words / n_sent) - 84.6 * (n_syl / n_words)
        assert abs(r.flesch_ease - ease) < 1e-9
        grade = 0.39 * (n_words / n_sent) + 11.8 * (n_syl / n_words) - 15.59
        assert abs(r.fk_grade - grade) < 1e-9


def test_did_reconstruction(spark, sf_dir):
    """DiD must equal the cell-mean arithmetic, and cell user counts must
    cover every (user, period) with activity."""
    from canvas_data_aws_spark.plans.registry import all_queries

    r = all_queries()["events_causal_did"].fn(spark, sf_dir).collect()[0]
    assert r.did_estimate == (r.t_post - r.t_pre) - (r.c_post - r.c_pre)
    for n in (r.n_t_pre, r.n_t_post, r.n_c_pre, r.n_c_post):
        assert n > 0


def test_cluster_size_histogram_mass_conservation(spark, sf_dir):
    """sum(n_docs) must equal the corpus size and cluster counts must
    reconcile with dedup_cluster's components."""
    from collections import Counter

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    qs = all_queries()
    hist = qs["dedup_cluster_size_histogram"].fn(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in hist) == n_docs
    comps = Counter(
        r.component for r in qs["dedup_cluster"].fn(spark, sf_dir).collect()
    )
    expect = Counter(comps.values())
    assert {r.cluster_size: r.n_clusters for r in hist} == dict(expect)
    for r in hist:
        assert r.n_docs == r.cluster_size * r.n_clusters


def test_holt_winters_matches_reference_loop(spark, sf_dir):
    """The folded Holt-Winters recurrence must match a plain python loop
    over the same daily series (init included) to float tolerance, and
    the seasonal state must rotate with period 7."""
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = sorted(
        all_queries()["ts_holt_winters_additive"].fn(spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    assert rows and rows[0].t == 7

    daily = sorted(
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
        .collect(),
        key=lambda r: r.day,
    )
    y = [r.y for r in daily][:45]
    level = sum(y[:7]) / 7.0
    trend = (sum(y[7:14]) / 7.0 - sum(y[:7]) / 7.0) / 7.0
    seas = [v - level for v in y[:7]]
    for r in rows:
        yt = y[r.t]
        s_old = seas[0]
        new_level = 0.3 * (yt - s_old) + 0.7 * (level + trend)
        new_trend = 0.1 * (new_level - level) + 0.9 * trend
        s_new = 0.2 * (yt - new_level) + 0.8 * s_old
        seas = seas[1:] + [s_new]
        level, trend = new_level, new_trend
        assert abs(r.level - level) < 1e-6 * max(1.0, abs(level)), r.t
        assert abs(r.trend - trend) < 1e-6 * max(1.0, abs(trend)), r.t
        assert abs(r.forecast_next - (level + trend + seas[0])) < 1e-6 * max(
            1.0, abs(level)
        )


def test_weighted_median_is_true_weighted_median(spark, sf_dir):
    """Brute-force check: wmedian must be the smallest price whose
    cumulative quantity weight reaches half the brand total."""
    from collections import defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = {r.brand: r for r in all_queries()["part_weighted_median_price"].fn(spark, sf_dir).collect()}
    assert rows
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_quantity").collect()
    brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, sf_dir, "part").collect()
    }
    wmap = defaultdict(lambda: defaultdict(int))
    for r in li:
        wmap[brand[r.l_partkey]][round(r.l_extendedprice * 100)] += round(r.l_quantity * 100)
    for b, weights in wmap.items():
        tw = sum(weights.values())
        cw = 0
        med = None
        for price in sorted(weights):
            cw += weights[price]
            if 2 * cw >= tw:
                med = price
                break
        r = rows[b]
        assert r.wmedian_cents == med, b
        assert r.total_weight_c == tw
        assert r.n_price_points == len(weights)


def test_filtered_search_respects_predicate_and_matches_brute(spark, sf_dir):
    """Every hit must satisfy the metadata predicate, and the result must
    equal a local brute-force over the filtered candidate set."""
    import math

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["sim_search_filtered"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r.lang == "en" for r in rows)
    emb = {r.vec_id: r.embedding for r in load_table(spark, sf_dir, "embeddings").collect()}
    langs = {r.doc_id: r.lang for r in load_table(spark, sf_dir, "documents").collect()}
    cand = {i: v for i, v in emb.items() if langs.get(i) == "en"}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    from collections import defaultdict

    got = defaultdict(dict)
    for r in rows:
        got[r.query_id][r.rank] = r.vec_id
    for qid in got:
        scored = sorted(
            ((round(cos(cand[i], emb[qid]), 6), -i) for i in cand), reverse=True
        )
        expect = [-(neg) for _, neg in scored[:10]]
        assert [got[qid][k] for k in sorted(got[qid])] == expect, qid


def test_order_reconciliation_counts(spark, sf_dir):
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["dq_order_total_reconciliation"].fn(spark, sf_dir).collect()
    n_orders_with_lines = (
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    assert sum(r.n_orders for r in rows) == n_orders_with_lines
    assert {r.verdict for r in rows} <= {"exact", "within_1pct", "within_10pct", "divergent"}


def test_footer_audit_row_mass(spark, sf_dir):
    """Row-group rows must sum to the table's COUNT(*), proving the
    footer numbers describe the data actually scanned."""
    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = all_queries()["table_parquet_footer_audit"].fn(spark, sf_dir).collect()
    assert rows
    assert sum(r.num_rows for r in rows) == load_table(spark, sf_dir, "orders").count()
    assert len({r.row_group_id for r in rows}) == len(rows)
    for r in rows:
        assert r.num_columns == 6
        assert r.total_byte_size > 0


def test_markov_prediction_eval_consistency(spark, sf_dir):
    """Predicted must be the modal next event per from-state (with the
    count-desc/name-asc tie-break), and accuracy == share of the modal
    transition count."""
    from collections import Counter, defaultdict

    from canvas_data_aws_spark.plans.registry import all_queries
    from canvas_data_aws_spark.sources.parquet import load_table

    rows = {r.from_type: r for r in all_queries()["events_markov_prediction_eval"].fn(spark, sf_dir).collect()}
    ev = sorted(
        load_table(spark, sf_dir, "events").collect(),
        key=lambda e: (e.user_id, e.ts, e.event_id),
    )
    trans = defaultdict(Counter)
    prev = {}
    for e in ev:
        if e.user_id in prev:
            trans[prev[e.user_id]][e.event_type] += 1
        prev[e.user_id] = e.event_type
    for ft, ctr in trans.items():
        best = min(ctr.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        r = rows[ft]
        assert r.predicted == best, ft
        assert r.n_transitions == sum(ctr.values())
        assert r.n_correct == ctr[best]
        assert r.top1_accuracy == ctr[best] / sum(ctr.values())


def test_minhash_calibration_quality(spark, sf_dir):
    """The 64-hash estimator must track exact Jaccard: per-bucket MAE
    under 0.2 (the binomial noise floor at n=64 is ~0.06 sigma), and the
    bucket's mean exact similarity must be within 0.25 of its mean
    estimate — a gross-bias tripwire."""
    from canvas_data_aws_spark.plans.registry import all_queries

    rows = all_queries()["dedup_minhash_calibration"].fn(spark, sf_dir).collect()
    assert rows
    assert sum(r.n_pairs for r in rows) > 0
    populated = [r for r in rows if r.n_pairs >= 10]
    assert populated, "at least one statistically-populated bucket expected"
    for r in rows:
        assert 0 <= r.bucket <= 9
        assert 0.0 <= r.mean_est <= 1.0
        assert 0.0 <= r.mean_exact <= 1.0 + 1e-9
    # calibration claims only where the sample supports them — singleton
    # buckets carrying one false-positive candidate are exactly what the
    # report exists to surface, not a test failure
    for r in populated:
        assert r.mae <= 0.1, (r.bucket, r.mae)
        assert abs(r.mean_est - r.mean_exact) <= 0.1, r.bucket


def test_k_core_convergence_exit_and_budget_exhaustion(spark):
    """The peel loop must exit early at its fixpoint (edge count stable),
    and an exhausted rounds budget mid-peel must warn (or raise under
    strict=True) instead of silently returning a superset of the k-core
    (round-7 advice). A 10-node path graph has NO 2-core and needs ~5
    peeling rounds to empty — a 1-round budget is provably insufficient."""
    import pytest

    from canvas_data_aws_spark.operators.clustering import k_core

    path_edges = [(i, i + 1) for i in range(9)]
    sym = spark.createDataFrame(
        path_edges + [(b, a) for a, b in path_edges], "src long, dst long"
    )
    # generous budget: converges (empty 2-core) well before 20 rounds
    assert k_core(sym, k=2, rounds=20).count() == 0
    # insufficient budget: strict raises, default returns the partial peel
    with pytest.raises(ValueError, match="budget"):
        k_core(sym, k=2, rounds=1, strict=True)
    partial = k_core(sym, k=2, rounds=1).count()
    assert partial > 0  # superset survives — which is exactly why it warns
    # a cycle IS its own 2-core: first round removes nothing, loop exits
    # immediately and every vertex survives with core_degree 2
    cyc_edges = [(i, (i + 1) % 6) for i in range(6)]
    cyc = spark.createDataFrame(
        cyc_edges + [(b, a) for a, b in cyc_edges], "src long, dst long"
    )
    rows = k_core(cyc, k=2, rounds=10, strict=True).collect()
    assert sorted((r.src, r.core_degree) for r in rows) == [(i, 2) for i in range(6)]
