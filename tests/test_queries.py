"""Registry smoke: every declared query runs at sf0.001 and returns a
schema-stable DataFrame. Oracle parity itself is the driver's gate
(emulated in tools/check_correctness.py)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from meshtastic_airsensor_database_spark.plans import REGISTRY

# exact O(n^2) pair queries are slow under local[4] test sessions;
# they are covered by tools/check_correctness.py instead.
SLOW = {"jaccard_neardup_pairs", "embedding_neardup_pairs",
        "char_jaccard_neardup_pairs"}


@pytest.mark.parametrize("name", [n for n in REGISTRY if n not in SLOW])
def test_query_runs(spark, sf_dir, name):
    q = REGISTRY[name]
    df = q.builder(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.columns  # non-empty schema
    if q.oracle is not None:
        assert q.oracle.strip().upper().startswith(("SELECT", "WITH"))


def test_registry_metadata():
    for q in REGISTRY.values():
        assert q.survey_ids, f"{q.name} missing SURVEY §2 mapping"
        assert q.description


# queries declared once (plans/base.py::sql_query): the twin text is the builder
SINGLE_SOURCED = [n for n, q in REGISTRY.items() if hasattr(q.builder, "sql")]


@pytest.mark.parametrize("name", SINGLE_SOURCED)
def test_single_sourced_builder_runs_its_oracle_text(spark, sf_dir, monkeypatch, name):
    q = REGISTRY[name]
    seen = []
    real_sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda text, *a, **k: seen.append(text) or real_sql(text, *a, **k)
    )
    q.builder(spark, sf_dir)
    assert seen == [q.oracle]


def test_sql_views_follow_sf_dir(spark, sf_dir):
    """The testdata views are rebound when the sf_dir changes, and a
    frame built before the rebind keeps reading its own directory."""
    from meshtastic_airsensor_database_spark.io_utils import load

    bigger = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    build = REGISTRY["parts_above_avg_price"].builder
    first = build(spark, sf_dir)
    n_small = first.count()
    n_big = build(spark, bigger).count()
    assert load(spark, bigger, "part").count() > load(spark, sf_dir, "part").count()
    assert n_big > n_small > 0
    assert first.count() == n_small
    assert build(spark, sf_dir).count() == n_small


@pytest.mark.parametrize(
    "name", [n for n in SINGLE_SOURCED if "/*+ BROADCAST(" in REGISTRY[n].oracle]
)
def test_broadcast_hint_comments_take_effect(spark, sf_dir, name):
    """With size-based broadcasting off, every hinted text still plans
    more broadcasts than the same text with its hint comments removed."""
    text = REGISTRY[name].oracle
    REGISTRY[name].builder(spark, sf_dir)  # binds the views
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        def broadcasts(t):
            return spark.sql(t)._jdf.queryExecution().executedPlan().toString().count(
                "BroadcastExchange"
            )

        assert broadcasts(text) > broadcasts(re.sub(r"/\*\+.*?\*/", "", text))
    finally:
        spark.conf.set(key, old)


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    """GK sketch within tolerance of the exact interpolated percentile."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load

    approx = {
        r.event_type: (r.p50_approx, r.p90_approx)
        for r in REGISTRY["approx_value_percentiles"].builder(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    exact = {
        r.event_type: (r.p50, r.p90)
        for r in ev.groupBy("event_type")
        .agg(F.median("value").alias("p50"), F.percentile("value", 0.9).alias("p90"))
        .collect()
    }
    for et, (a50, a90) in approx.items():
        assert abs(a50 - exact[et][0]) <= max(2.0, 0.1 * abs(exact[et][0]))
        assert abs(a90 - exact[et][1]) <= max(2.0, 0.1 * abs(exact[et][1]))


def test_frequent_event_props_contains_true_heavy_hitter(spark, sf_dir):
    """freqItems must surface any user above the support threshold."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load

    ev = load(spark, sf_dir, "events")
    total = ev.count()
    heavy = {
        r.user_id
        for r in ev.groupBy("user_id").count()
        .filter(F.col("count") > 0.05 * total).collect()
    }
    got = set(
        REGISTRY["frequent_event_props"].builder(spark, sf_dir)
        .collect()[0]["user_id_freqItems"]
    )
    assert heavy <= got  # no false negatives above support (sketch guarantee)


def test_transition_matrix_probabilities_sum_to_one(spark, sf_dir):
    rows = REGISTRY["event_transition_matrix"].builder(spark, sf_dir).collect()
    by_prev: dict = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r["p"])
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-2, prev  # rounded to 4dp per cell


def test_cohort_retention_offset_zero_is_full(spark, sf_dir):
    rows = REGISTRY["cohort_retention"].builder(spark, sf_dir).collect()
    zero = [r for r in rows if r["week_offset"] == 0]
    assert zero, "every cohort must have an offset-0 row"
    for r in zero:
        assert r["n_active"] == r["cohort_size"]
        assert r["retention_rate"] == 1.0


def test_ks_drift_stat_in_unit_interval(spark, sf_dir):
    for r in REGISTRY["value_ks_drift"].builder(spark, sf_dir).collect():
        assert 0.0 <= r["ks_stat"] <= 1.0
        assert r["n_before"] > 0 and r["n_after"] > 0


def test_winsorized_mean_moves_toward_center(spark, sf_dir):
    for r in REGISTRY["winsorized_value_stats"].builder(spark, sf_dir).collect():
        assert r["n_clipped"] < r["n"]
        # clipping a right-skewed positive series cannot raise the max
        # deviation: winsorized mean stays within the raw value band
        assert r["avg_winsorized"] <= r["avg_raw"] * 1.5 + 1e-9


def test_sketch_quantiles_within_one_bin_of_exact(spark, sf_dir):
    """The mergeable binned sketch's estimate must land within one bin
    width of the exact DISCRETE quantile of the same definition
    (smallest value whose CDF reaches q). The interpolated
    quantile_cont can sit arbitrarily far away in a sparse tail —
    that gap is a property of the data, not sketch error."""
    import math

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.tsq import QSKETCH_W

    est = {
        r["event_type"]: (r["p50_est"], r["p95_est"])
        for r in REGISTRY["rollup_quantile_estimate"].builder(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    by_type: dict = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, (e50, e95) in est.items():
        vals = sorted(by_type[et])
        for q, e in ((0.5, e50), (0.95, e95)):
            disc = vals[max(0, math.ceil(q * len(vals)) - 1)]
            assert abs(e - disc) <= QSKETCH_W, (et, q, e, disc)


def test_heavy_hitters_exact_against_brute_force(spark, sf_dir):
    """Every returned user truly clears the 0.75% support threshold
    with its exact count, and no qualifying user is missing."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.io_utils import load

    got = {
        r["user_id"]: r["n_events"]
        for r in REGISTRY["heavy_hitter_users"].builder(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    total = ev.count()
    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    expected = {u: n for u, n in exact.items() if n * 10000 >= total * 75}
    assert got == expected


def test_pmi_matches_brute_force_counts(spark, sf_dir):
    """PMI invariants: counts clear the min-count floor, the list is
    sorted by (pmi desc, w1, w2), and every reported PMI matches the
    log2 ratio recomputed from exact corpus counts. (No planted
    collocation exists in the synthetic corpus to assert on — this
    pins the arithmetic, not retrieval.)"""
    import math

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import PMI_MIN_COUNT

    rows = REGISTRY["bigram_pmi_topk"].builder(spark, sf_dir).collect()
    assert rows
    keys = [(-r["pmi"], r["w1"], r["w2"]) for r in rows]
    assert keys == sorted(keys)
    docs = load(spark, sf_dir, "documents").select("text").collect()
    uni: dict = {}
    bg: dict = {}
    n_uni = n_bg = 0
    for d in docs:
        ts = d["text"].strip().lower().split()
        n_uni += len(ts)
        n_bg += max(len(ts) - 1, 0)
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    for r in rows:
        assert r["c12"] >= PMI_MIN_COUNT
        assert bg[(r["w1"], r["w2"])] == r["c12"]
        expect = math.log2(
            (r["c12"] / n_bg) / ((uni[r["w1"]] / n_uni) * (uni[r["w2"]] / n_uni))
        )
        assert abs(r["pmi"] - expect) < 1e-3, (r, expect)


def test_linreg_token_diversity_matches_lstsq(spark, sf_dir):
    """The mirrored Gauss-Jordan solve must reproduce numpy's
    least-squares solution on the SAME integer design matrix (exact
    moments -> exact normal equations; differences are only float op
    order, so agreement should be tight), and R² must match the
    residual-based definition."""
    import re

    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import LINREG_FEATURES

    docs = [r0.text for r0 in load(spark, sf_dir, "documents").select("text").collect()]

    def toks(t):
        t = t.strip().lower()
        return re.split(r"\s+", t) if t.strip() else []

    X = np.array(
        [[1.0, len(toks(t)), len(t), sum(1 for w in toks(t) if len(w) > 5)]
         for t in docs]
    )
    y = np.array([float(len(set(toks(t)))) for t in docs])
    w_np, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ w_np
    r2_np = 1.0 - float(((y - pred) ** 2).sum()) / float(((y - y.mean()) ** 2).sum())

    rows = {r0.term: r0 for r0 in
            REGISTRY["linreg_token_diversity"].builder(spark, sf_dir).collect()}
    assert set(rows) == set(LINREG_FEATURES)
    for i, term in enumerate(LINREG_FEATURES):
        assert rows[term].weight == pytest.approx(w_np[i], rel=1e-4, abs=1e-4), (
            term, rows[term].weight, w_np[i])
    assert rows["intercept"].r2 == pytest.approx(r2_np, abs=1e-4)
    assert 0.0 <= rows["intercept"].r2 <= 1.0


def test_logreg_gd_matches_unrounded_reference(spark, sf_dir):
    """The mirrored (decimal-rounded) GD trajectory must track an
    INDEPENDENT unrounded numpy implementation of the same algorithm —
    same features, label, scaling, lr, iteration count — to within the
    accumulated rounding budget, and the reported training accuracy
    must beat the majority-class baseline (the classifier learned
    something) and match a direct recomputation."""
    import re

    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import (
        LOGREG_FEATURES,
        LOGREG_ITERS,
        LOGREG_LR,
    )

    docs = [r0.text for r0 in
            load(spark, sf_dir, "documents").select("text").collect()]

    def toks(t):
        t2 = t.strip().lower()
        return re.split(r"\s+", t2) if t.strip() else []

    Z = np.array(
        [[1.0, len(toks(t)) / 64.0, len(t) / 1024.0,
          sum(1 for w in toks(t) if len(w) > 5) / 64.0] for t in docs]
    )
    y = np.array(
        [1.0 if 2 * len(set(toks(t))) >= len(toks(t)) else 0.0 for t in docs]
    )
    n = float(len(docs))
    w_ref = np.zeros(4)
    for _ in range(LOGREG_ITERS):
        p = 1.0 / (1.0 + np.exp(-(Z @ w_ref)))
        g = Z.T @ (p - y)
        w_ref = w_ref - LOGREG_LR * g / n
    pred = (1.0 / (1.0 + np.exp(-(Z @ w_ref))) >= 0.5).astype(float)
    acc_ref = float((pred == y).mean())

    rows = {r0.term: r0 for r0 in
            REGISTRY["logreg_quality_gd"].builder(spark, sf_dir).collect()}
    assert set(rows) == set(LOGREG_FEATURES)
    for j, term in enumerate(LOGREG_FEATURES):
        assert rows[term].weight == pytest.approx(w_ref[j], abs=2e-3), (
            term, rows[term].weight, w_ref[j])
    acc = rows["intercept"].train_accuracy
    base = max(float(y.mean()), 1.0 - float(y.mean()))
    assert acc == pytest.approx(acc_ref, abs=5e-3)
    assert acc >= base - 1e-9  # learned at least the majority rule


def test_zipf_slope_is_negative_and_bounded(spark, sf_dir):
    """Rank-frequency slope of any real token distribution is negative
    (frequency decreases with rank) and cannot be steeper than free
    fall to a single hapax tier."""
    rows = REGISTRY["zipf_token_slope"].builder(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -10.0 < r["zipf_slope"] < 0.0, r
        assert r["n_ranks"] > 1


def test_attribution_touch_precedes_purchase(spark, sf_dir):
    """Every attributed purchase credits a real earlier touch event of
    an allowed type belonging to the same user."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.tsq import ATTRIB_TOUCH_TYPES

    rows = REGISTRY["last_touch_attribution"].builder(spark, sf_dir).collect()
    assert rows
    ev = {
        r["event_id"]: r
        for r in load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    }
    for r in rows:
        touch = ev[r["touch_event_id"]]
        assert touch["event_type"] in ATTRIB_TOUCH_TYPES
        assert touch["event_type"] == r["touch_type"]
        assert touch["user_id"] == r["user_id"]
        purchase = ev[r["event_id"]]
        assert purchase["event_type"] == "purchase"
        assert (touch["ts"], touch["event_id"]) < (purchase["ts"], purchase["event_id"])
        assert r["sec_since_touch"] >= 0


def test_cms_heavy_hitters_never_undercount(spark, sf_dir):
    """CMS guarantee surfaced by the audit columns: est >= exact."""
    rows = REGISTRY["cms_heavy_hitters"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    for row in rows:
        assert row.overestimate == row.est_n - row.exact_n
        assert row.overestimate >= 0


def test_doc_novelty_matches_string_brute_force(spark, sf_dir):
    """The hashed-key df window must agree with a gram-STRING
    recomputation (catches xxhash collisions / logic drift)."""
    from pyspark.sql import functions as F

    from meshtastic_airsensor_database_spark.functions.text import word_shingles
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import SHINGLE_N

    got = {
        r.doc_id: (r.n_shingles, r.n_novel)
        for r in REGISTRY["doc_novelty_scores"].builder(spark, sf_dir).collect()
    }
    sh = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), SHINGLE_N)).alias("gram"),
        )
    )
    df = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    want = {
        r.doc_id: (r.n, r.novel)
        for r in sh.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("df") == 1).cast("int")).alias("novel"),
        )
        .collect()
    }
    assert got == want


def test_source_overlap_jaccard_bounds(spark, sf_dir):
    rows = REGISTRY["source_overlap_jaccard"].builder(spark, sf_dir).collect()
    assert len(rows) > 0
    for row in rows:
        assert row.source_a < row.source_b
        assert 1 <= row.n_common <= min(row.n_a, row.n_b)
        assert 0.0 < row.jaccard <= 1.0


def test_cluster_quality_matches_numpy_brute_force(spark, sf_dir):
    """Centroid / nearest-other / simplified-silhouette means must
    match a numpy recomputation (same 6-decimal centroid rounding)."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import ROUND_HALF_UP, Decimal

    got = {
        row.label: (row.n, row.mean_intra, row.mean_nearest_other, row.mean_silhouette)
        for row in REGISTRY["cluster_quality_metrics"].builder(spark, sf_dir).collect()
    }

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    labels = np.asarray(t["label"])
    vecs = np.stack([np.asarray(x, dtype=np.float64) for x in t["embedding"].to_pylist()])

    def rnd(x, n):
        d = Decimal(repr(float(x))).quantize(Decimal("1e-9"), ROUND_HALF_UP)
        return float(d.quantize(Decimal(f"1e-{n}"), ROUND_HALF_UP))

    uniq = sorted(set(labels.tolist()))
    cents = {
        l: np.array([rnd(v, 6) for v in vecs[labels == l].mean(axis=0)])
        for l in uniq
    }
    for l in uniq:
        member = vecs[labels == l]
        a = np.linalg.norm(member - cents[l], axis=1)
        others = np.stack([
            np.linalg.norm(member - cents[m], axis=1) for m in uniq if m != l
        ])
        b = others.min(axis=0)
        denom = np.maximum(a, b)
        sil = np.where(denom > 0, (b - a) / denom, 0.0)
        n, mi, mo, ms = got[l]
        assert n == len(member)
        assert abs(mi - a.mean()) < 2e-4
        assert abs(mo - b.mean()) < 2e-4
        assert abs(ms - sil.mean()) < 2e-4


def test_skew_key_report_invariants(spark, sf_dir):
    from meshtastic_airsensor_database_spark.io_utils import load

    row = REGISTRY["skew_key_report"].builder(spark, sf_dir).collect()[0]
    assert row.n_rows == load(spark, sf_dir, "events").count()
    assert 0 < row.top1_pct <= row.top10_pct <= 100.0
    assert row.max_key_rows * row.n_keys >= row.n_rows  # max >= mean


def test_driver_window_rows_only_entries_displace_no_waiting_oracle():
    """Protocol guard, refined in r9: a rows-only query may occupy a
    driver-recorded slot ONLY when no oracle-backed query is still
    waiting for its FIRST driver row (the original guard predates the
    ledger being complete — rows-only entries then had to yield; now
    that every oracle-backed query has green driver evidence, the
    stalest evidence in the ledger is the rows-only entries that never
    had ANY driver row, and the rotation may finally record them)."""
    import glob
    import json
    import os

    from meshtastic_airsensor_database_spark.plans.registry import _DRIVER_WINDOW

    rows_only_in_window = [
        n for n in _DRIVER_WINDOW if REGISTRY[n].oracle is None
    ]
    if not rows_only_in_window:
        return  # all-oracle window: trivially fine
    recorded: set[str] = set()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # r* not r0*: rNN names sort fine and round 10+ recordings must
    # stay visible to this guard (r9 ADVICE)
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(f, encoding="utf-8") as fh:
            recorded |= set(json.load(fh))
    waiting = [
        n
        for n, q in REGISTRY.items()
        if q.oracle is not None and n not in recorded and n not in _DRIVER_WINDOW
    ]
    assert not waiting, (
        "rows-only entries occupy driver slots while oracle-backed "
        f"queries still wait for a first row: {waiting}"
    )


def test_welch_t_matches_python_reference(spark, sf_dir):
    """Welch t and Welch-Satterthwaite df recomputed in plain Python
    from the same deterministic md5 user split must match the engine
    to the published rounding."""
    import hashlib
    import math
    import statistics

    from meshtastic_airsensor_database_spark.io_utils import load

    rows = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    arms: dict = {}
    for r0 in rows:
        v = int(hashlib.md5(str(r0.user_id).encode()).hexdigest()[:8], 16) % 2
        arms.setdefault(r0.event_type, ([], []))[v].append(r0.value)
    got = {
        r0.event_type: r0
        for r0 in REGISTRY["ab_welch_test"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(arms)
    for et, (a, b) in arms.items():
        ma, mb = statistics.fmean(a), statistics.fmean(b)
        va, vb = statistics.variance(a), statistics.variance(b)
        sa, sb = va / len(a), vb / len(b)
        t = (mb - ma) / math.sqrt(sa + sb)
        df = (sa + sb) ** 2 / (sa**2 / (len(a) - 1) + sb**2 / (len(b) - 1))
        g = got[et]
        assert (g.n_a, g.n_b) == (len(a), len(b))
        assert abs(g.welch_t - t) < 1e-3, et
        assert abs(g.welch_df - df) < 0.51, et


def test_bootstrap_ci_is_deterministic_and_calibrated(spark, sf_dir):
    """Two runs produce identical rows (derandomized draws), the CI
    brackets the raw mean, and the bootstrap SE is within 3x of the
    analytic sd/sqrt(n) it estimates."""
    import math
    import statistics

    from meshtastic_airsensor_database_spark.io_utils import load

    b = REGISTRY["bootstrap_value_ci"].builder
    one = sorted(map(tuple, b(spark, sf_dir).collect()))
    two = sorted(map(tuple, b(spark, sf_dir).collect()))
    assert one == two
    vals: dict = {}
    for r0 in load(spark, sf_dir, "events").select("event_type", "value").collect():
        vals.setdefault(r0.event_type, []).append(r0.value)
    for r0 in b(spark, sf_dir).collect():
        assert r0.ci_lo <= r0.raw_mean <= r0.ci_hi, r0
        analytic = statistics.stdev(vals[r0.event_type]) / math.sqrt(r0.n_rows)
        assert analytic / 3 < r0.boot_se < analytic * 3, (r0, analytic)


def test_q13_histogram_conserves_mass(spark, sf_dir):
    """Every customer lands in exactly one bucket (sum of custdist ==
    |customer|) and the weighted bucket sum equals the filtered order
    count — the two invariants that catch a dropped zero-bucket or a
    join fanout."""
    from meshtastic_airsensor_database_spark.io_utils import load

    rows = REGISTRY["orders_per_customer_histogram"].builder(spark, sf_dir).collect()
    n_cust = load(spark, sf_dir, "customer").count()
    n_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .count()
    )
    assert sum(r0.custdist for r0 in rows) == n_cust
    assert sum(r0.c_count * r0.custdist for r0 in rows) == n_orders


def test_dau_wau_matches_brute_force(spark, sf_dir):
    """DAU and WAU recomputed from raw (user, day) sets must match,
    and WAU >= DAU on every day (the window contains the day)."""
    import datetime

    from meshtastic_airsensor_database_spark.io_utils import load

    ud = {
        (r0.d, r0.user_id)
        for r0 in load(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"), "user_id")
        .collect()
    }
    days = {d for d, _ in ud}
    for r0 in REGISTRY["dau_wau_stickiness"].builder(spark, sf_dir).collect():
        assert r0.d in days
        dau = len({u for d, u in ud if d == r0.d})
        wau = len(
            {
                u
                for d, u in ud
                if r0.d - datetime.timedelta(days=6) <= d <= r0.d
            }
        )
        assert (r0.dau, r0.wau) == (dau, wau), r0
        assert r0.wau >= r0.dau


def test_pareto_prefix_is_exactly_the_crossing_set(spark, sf_dir):
    """Ranks are contiguous from 1, coverage crosses the 80% target
    exactly at the last row (previous row still below it)."""
    rows = sorted(
        REGISTRY["pareto_user_share"].builder(spark, sf_dir).collect(),
        key=lambda r0: r0.user_rank,
    )
    assert [r0.user_rank for r0 in rows] == list(range(1, len(rows) + 1))
    assert rows[-1].cum_pct >= 80.0
    if len(rows) > 1:
        assert rows[-2].cum_pct < 80.0


def test_chi2_matches_python_reference(spark, sf_dir):
    """The chi-squared statistic recomputed cell-by-cell in plain
    Python from the same contingency table must agree."""
    from meshtastic_airsensor_database_spark.io_utils import load

    ev = load(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod")
    ).collect()
    cells: dict = {}
    for r0 in ev:
        cells[(r0.event_type, r0.hod)] = cells.get((r0.event_type, r0.hod), 0) + 1
    n = sum(cells.values())
    rt: dict = {}
    ct: dict = {}
    for (t, h), o in cells.items():
        rt[t] = rt.get(t, 0) + o
        ct[h] = ct.get(h, 0) + o
    chi2 = sum(
        (o - rt[t] * ct[h] / n) ** 2 / (rt[t] * ct[h] / n)
        for (t, h), o in cells.items()
    )
    got = REGISTRY["type_hour_chi2"].builder(spark, sf_dir).collect()[0]
    assert abs(got.chi2 - chi2) < 1e-2, (got.chi2, chi2)
    assert got.dof == (len(rt) - 1) * (len(ct) - 1)
    assert got.n_cells == len(cells) and got.n_events == n


def test_mannwhitney_matches_brute_force(spark, sf_dir):
    """U recomputed by direct pairwise comparison (wins + half-ties)
    must match the midrank formulation, and u_a + u_b == n_a * n_b."""
    import hashlib

    from meshtastic_airsensor_database_spark.io_utils import load

    arms: dict = {}
    for r0 in (
        load(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .collect()
    ):
        v = int(hashlib.md5(str(r0.user_id).encode()).hexdigest()[:8], 16) % 2
        arms.setdefault(r0.event_type, ([], []))[v].append(r0.value)
    for r0 in REGISTRY["mannwhitney_value_test"].builder(spark, sf_dir).collect():
        a, b = arms[r0.event_type]
        assert (r0.n_a, r0.n_b) == (len(a), len(b))
        assert abs(r0.u_a + r0.u_b - r0.n_a * r0.n_b) < 1e-6
        u_brute = sum(
            1.0 if x > y else 0.5 if x == y else 0.0 for x in a for y in b
        )
        assert abs(r0.u_a - u_brute) < 1e-6, (r0, u_brute)


def test_linear_attribution_conserves_purchase_value(spark, sf_dir):
    """The credit split must conserve value: summed attributed_value
    across touch types equals the summed value of every purchase that
    has at least one in-window touch (each purchase distributes
    exactly its own value)."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.tsq import (
        ATTRIB_LOOKBACK_SEC,
        ATTRIB_TOUCH_TYPES,
    )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.col("ts").cast("long").alias("sec")
    ).collect()
    touches = [
        (r0.user_id, r0.sec) for r0 in ev if r0.event_type in ATTRIB_TOUCH_TYPES
    ]
    expected = sum(
        r0.value
        for r0 in ev
        if r0.event_type == "purchase"
        and any(
            u == r0.user_id and s <= r0.sec and s > r0.sec - ATTRIB_LOOKBACK_SEC
            for u, s in touches
        )
    )
    rows = REGISTRY["linear_attribution"].builder(spark, sf_dir).collect()
    assert set(r0.touch_type for r0 in rows) <= set(ATTRIB_TOUCH_TYPES)
    got = sum(r0.attributed_value for r0 in rows)
    assert abs(got - expected) < 0.05 * max(len(rows), 1), (got, expected)


def test_nearest_centroid_confusion_covers_every_vector(spark, sf_dir):
    """Confusion cells partition the corpus: counts sum to |embeddings|
    and predicted labels come from the true label domain."""
    from meshtastic_airsensor_database_spark.io_utils import load

    emb = load(spark, sf_dir, "embeddings")
    labels = {r0.label for r0 in emb.select("label").distinct().collect()}
    rows = REGISTRY["nearest_centroid_confusion"].builder(spark, sf_dir).collect()
    assert sum(r0.n_vecs for r0 in rows) == emb.count()
    assert {r0.pred_label for r0 in rows} <= labels
    assert {r0.label for r0 in rows} <= labels


def test_corr_pairs_matches_numpy(spark, sf_dir):
    """cov/corr recomputed with numpy over the full collected matrix
    must match the distributed Gram-partial formulation cell-for-cell
    on the reported top pairs."""
    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load

    X = np.array(
        [
            r0.embedding
            for r0 in load(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    cov = np.cov(X, rowvar=False, ddof=1)
    sd = np.sqrt(np.diag(cov))
    rows = REGISTRY["embedding_corr_pairs"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r0 in rows:
        assert r0.n == X.shape[0]
        c = cov[r0.dim_i, r0.dim_j]
        assert abs(r0.cov - c) < 1e-5, (r0, c)
        assert abs(r0.corr - c / (sd[r0.dim_i] * sd[r0.dim_j])) < 1e-5
    # the reported pairs are the true top-|corr| set
    full = np.abs(cov / np.outer(sd, sd))
    iu = np.triu_indices_from(full, k=1)
    best = sorted(np.round(full[iu], 6), reverse=True)[: len(rows)]
    got = sorted((abs(r0.corr) for r0 in rows), reverse=True)
    assert np.allclose(got, best, atol=1e-6), (got[:5], best[:5])


def test_session_paths_match_brute_force(spark, sf_dir):
    """Paths recomputed with a plain-Python sessionizer must produce
    the same path -> count multiset for the reported top rows."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.tsq import (
        PATH_GAP_SEC,
        PATH_LEN,
    )

    ev = sorted(
        (
            (r0.user_id, r0.sec, r0.event_id, r0.event_type)
            for r0 in load(spark, sf_dir, "events")
            .select(
                "user_id",
                F.col("ts").cast("long").alias("sec"),
                "event_id",
                "event_type",
            )
            .collect()
        ),
    )
    counts: dict = {}
    cur_user, last_sec, cur_path = None, None, []
    def flush():
        if cur_path:
            p = ">".join(cur_path[:PATH_LEN])
            counts[p] = counts.get(p, 0) + 1
    for u, sec, _eid, et in ev:
        if u != cur_user or last_sec is None or sec - last_sec > PATH_GAP_SEC:
            flush()
            cur_user, cur_path = u, []
        cur_path.append(et)
        last_sec = sec
    flush()
    for r0 in REGISTRY["top_session_paths"].builder(spark, sf_dir).collect():
        assert counts.get(r0.path) == r0.n_sessions, (r0, counts.get(r0.path))


def test_pca_matches_numpy_reference(spark, sf_dir):
    """Projection coordinates and the explained-variance spectrum must
    match a straight numpy PCA (eigh of the ddof=1 covariance) of the
    collected matrix — sign-normalized the same way."""
    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.vectorq import PCA_K

    data = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    X = np.array([r0.embedding for r0 in data], dtype=np.float64)
    ids = np.array([r0.vec_id for r0 in data])
    cov = np.round(np.cov(X, rowvar=False, ddof=1), 9)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    W = evecs[:, :PCA_K]
    flip = np.sign(W[np.abs(W).argmax(axis=0), np.arange(PCA_K)])
    flip[flip == 0] = 1.0
    W = W * flip
    P = (X - X.mean(axis=0)) @ W

    by_id = {int(i): P[pos] for pos, i in enumerate(ids)}
    rows = REGISTRY["embedding_pca_coords"].builder(spark, sf_dir).collect()
    assert len(rows) == 50
    for r0 in rows:
        want = by_id[r0.vec_id]
        got = [getattr(r0, f"pc{j + 1}") for j in range(PCA_K)]
        assert np.allclose(got, np.round(want, 4), atol=2e-4), (r0, want)

    # since r7 the spectrum query reports the top-2 Rayleigh eigenvalues
    # from the mirrored power+deflation ladder (oracle-exact) — still
    # pinned here against eigh over TOTAL variance (= trace)
    spec = sorted(
        REGISTRY["pca_explained_variance"].builder(spark, sf_dir).collect(),
        key=lambda s: s.component,
    )
    total = evals.sum()
    assert [s.component for s in spec] == [1, 2]
    top2 = [evals[0], evals[1]]  # evals already sorted descending here
    cum = 0.0
    for s, ev in zip(spec, top2):
        cum += ev
        assert s.eigenvalue == pytest.approx(ev, rel=1e-3)
        assert s.explained_pct == pytest.approx(ev * 100.0 / total, rel=1e-3)
        assert s.cum_pct == pytest.approx(cum * 100.0 / total, rel=1e-3)
        assert s.n_vecs == len(X)


def test_conversion_latency_matches_brute_force(spark, sf_dir):
    """Per-user first-view -> first-subsequent-purchase latency
    recomputed in plain Python must reproduce the count, min/max and
    mean exactly."""
    import statistics

    from meshtastic_airsensor_database_spark.io_utils import load

    ev = sorted(
        (
            (r0.user_id, r0.sec, r0.event_id, r0.event_type)
            for r0 in load(spark, sf_dir, "events")
            .select(
                "user_id",
                F.col("ts").cast("long").alias("sec"),
                "event_id",
                "event_type",
            )
            .collect()
        )
    )
    first_view: dict = {}
    lat: dict = {}
    for u, sec, _eid, et in ev:
        if et == "view" and u not in first_view:
            first_view[u] = sec
        if et == "purchase" and u in first_view and u not in lat:
            lat[u] = sec - first_view[u]
    got = REGISTRY["conversion_latency_stats"].builder(spark, sf_dir).collect()[0]
    assert got.n_converted == len(lat)
    assert got.min_sec == min(lat.values())
    assert got.max_sec == max(lat.values())
    assert abs(got.avg_sec - statistics.fmean(lat.values())) < 0.01


def test_rfm_segments_partition_users_into_quartiles(spark, sf_dir):
    """Segments partition the user base (counts sum to |users|), tiles
    cover 1..4 on every axis, and quartile sizes are NTILE-balanced
    (each frequency tile holds n/4 rounded users)."""
    from meshtastic_airsensor_database_spark.io_utils import load

    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    rows = REGISTRY["rfm_segments"].builder(spark, sf_dir).collect()
    assert sum(r0.n_users for r0 in rows) == n_users
    tiles = {(int(r0.rfm_segment[0]), int(r0.rfm_segment[1]), int(r0.rfm_segment[2]))
             for r0 in rows}
    for axis in range(3):
        vals = {t[axis] for t in tiles}
        assert vals <= {1, 2, 3, 4} and len(vals) >= 2, (axis, vals)
    f_counts: dict = {}
    for r0 in rows:
        f = int(r0.rfm_segment[1])
        f_counts[f] = f_counts.get(f, 0) + r0.n_users
    lo, hi = n_users // 4, -(-n_users // 4)
    for f, c in f_counts.items():
        assert lo <= c <= hi, (f, c)


def test_incremental_cms_equals_batch_sketch(spark, sf_dir):
    """Counters maintained across the 4 out-of-order slices must equal
    the one-shot batch sketch cell-for-cell, and total mass must equal
    depth x |events|."""
    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.operators.sketch import (
        CMS_DEPTH,
        cms_counters,
    )

    ev = load(spark, sf_dir, "events")
    batch = {
        (r0.j, r0.bucket): r0.c
        for r0 in cms_counters(ev, "user_id").collect()
    }
    inc = {
        (r0.j, r0.bucket): r0.c
        for r0 in REGISTRY["incremental_cms_users"].builder(spark, sf_dir).collect()
    }
    assert inc == batch
    assert sum(inc.values()) == CMS_DEPTH * ev.count()


def test_sparse_cosine_matches_python_inverted_index(spark, sf_dir):
    """The distributed bucket-accumulated dot products must reproduce a
    plain-Python recompute of the same hashed TF vectors exactly (pair
    set AND cosines), and every >=0.8-Jaccard planted near-dup must
    clear the 0.5 sparse-cosine threshold."""
    import hashlib
    import math

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.textq import (
        SHINGLE_N,
        SPARSE_COS_DF_CAP,
        SPARSE_COS_DIM,
        SPARSE_COS_THRESHOLD,
        jaccard_neardup_pairs,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    tf: dict = {}
    for d in docs:
        ts = d.text.strip().lower().split()
        if len(ts) >= SHINGLE_N:
            sh = {" ".join(ts[i:i + SHINGLE_N]) for i in range(len(ts) - SHINGLE_N + 1)}
        else:
            sh = {" ".join(ts)}
        v: dict = {}
        for t in sh:
            b = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % SPARSE_COS_DIM
            v[b] = v.get(b, 0) + 1
        tf[d.doc_id] = v
    norms = {i: math.sqrt(sum(w * w for w in v.values())) for i, v in tf.items()}
    df: dict = {}
    for v in tf.values():
        for b in v:
            df[b] = df.get(b, 0) + 1
    inv: dict = {}
    for i, v in tf.items():
        for b, w in v.items():
            if df[b] <= SPARSE_COS_DF_CAP:
                inv.setdefault(b, []).append((i, w))
    dots: dict = {}
    for b, posts in inv.items():
        for x in range(len(posts)):
            for y in range(x + 1, len(posts)):
                (ia, wa), (ib, wb) = posts[x], posts[y]
                if ia > ib:
                    ia, ib, wa, wb = ib, ia, wb, wa
                dots[(ia, ib)] = dots.get((ia, ib), 0) + wa * wb
    expected = {
        p: d / (norms[p[0]] * norms[p[1]])
        for p, d in dots.items()
        if d >= SPARSE_COS_THRESHOLD * norms[p[0]] * norms[p[1]]
    }
    got = {
        (r0.id_a, r0.id_b): r0.cosine
        for r0 in REGISTRY["sparse_tf_cosine_pairs"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for p, c in got.items():
        assert abs(c - expected[p]) < 1e-4, (p, c, expected[p])

    planted = {
        (r0.doc_a, r0.doc_b)
        for r0 in jaccard_neardup_pairs(spark, sf_dir).collect()
    }
    assert planted, "fixture should contain planted near-dups"
    assert planted <= set(got), planted - set(got)


def test_token_budget_selection_is_the_greedy_prefix(spark, sf_dir):
    """The selected set must equal the greedy quality-descending prefix
    computed in plain Python: crossing doc included, nothing after it,
    and the budget first reached exactly at the crossing doc."""
    from meshtastic_airsensor_database_spark.plans.curateq import (
        TOKEN_BUDGET,
        token_budget_selection,
    )

    rows = sorted(
        token_budget_selection(spark, sf_dir).collect(),
        key=lambda r0: (-r0.score, r0.doc_id),
    )
    got_ids = [r0.doc_id for r0 in rows]
    from meshtastic_airsensor_database_spark.io_utils import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    scored = []
    for d in docs:
        ts = d.text.strip().lower().split()
        from meshtastic_airsensor_database_spark.functions.text import STOPWORDS

        ratio = (
            round(sum(1 for t in ts if t in STOPWORDS) / len(ts), 4)
            if ts
            else 0.0
        )
        scored.append((-ratio, d.doc_id, len(ts)))
    scored.sort()
    want, cum = [], 0
    for negscore, did, n in scored:
        if cum >= TOKEN_BUDGET:
            break
        want.append(did)
        cum += n
    assert got_ids == want
    total = sum(r0.n_tokens for r0 in rows)
    assert total >= TOKEN_BUDGET
    assert total - rows[-1].n_tokens < TOKEN_BUDGET


def test_benford_audit_digits_and_mass(spark, sf_dir):
    """Nine digit rows covering every order exactly once; Benford
    expectations sum to 100%; chi2 contributions are non-negative and
    match the python recompute."""
    import math

    from meshtastic_airsensor_database_spark.io_utils import load

    rows = REGISTRY["benford_digit_audit"].builder(spark, sf_dir).collect()
    n_orders = load(spark, sf_dir, "orders").count()
    assert sorted(r0.digit for r0 in rows) == list(range(1, 10))
    assert sum(r0.n_obs for r0 in rows) == n_orders
    assert abs(sum(r0.benford_pct for r0 in rows) - 100.0) < 0.01
    for r0 in rows:
        exp_n = math.log10(1 + 1 / r0.digit) * n_orders
        want = (r0.n_obs - exp_n) ** 2 / exp_n
        assert r0.chi2_contrib >= 0
        assert abs(r0.chi2_contrib - want) < 0.01, (r0, want)


def test_rank_overlap_invariants(spark, sf_dir):
    """Overlap grows monotonically with k, never exceeds min(n_kw,
    n_vec), pool counts never exceed k, and Jaccard matches its own
    definition."""
    rows = sorted(
        REGISTRY["retrieval_rank_overlap"].builder(spark, sf_dir).collect(),
        key=lambda r0: r0.k,
    )
    assert [r0.k for r0 in rows] == [5, 10, 20]
    prev = -1
    for r0 in rows:
        assert r0.n_kw <= r0.k and r0.n_vec <= r0.k
        assert r0.n_overlap <= min(r0.n_kw, r0.n_vec)
        assert r0.n_overlap >= prev
        prev = r0.n_overlap
        denom = r0.n_kw + r0.n_vec - r0.n_overlap
        assert abs(r0.jaccard_at_k - r0.n_overlap / denom) < 1e-4


def test_pca_power_component_converges_to_eigh(spark, sf_dir):
    """The derandomized power-iteration PC1 (oracle-basis sibling of
    the eigh tier) must CONVERGE to numpy's leading eigenvector —
    |cosine| > 0.999 — and its Rayleigh eigenvalue / explained ratio
    must match eigh's, so the exact twin is pinning real PCA, not just
    reproducing its own trajectory."""
    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load

    data = load(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r0.embedding for r0 in data], dtype=np.float64)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    lead_val, lead_vec = evals[-1], evecs[:, -1]

    rows = sorted(
        REGISTRY["pca_power_component"].builder(spark, sf_dir).collect(),
        key=lambda r0: r0.dim_idx,
    )
    v = np.array([r0.loading for r0 in rows])
    assert len(v) == X.shape[1]
    assert abs(float(v @ lead_vec)) > 0.999, float(v @ lead_vec)
    assert rows[0].eigenvalue == pytest.approx(lead_val, rel=1e-3)
    assert rows[0].explained_ratio == pytest.approx(
        lead_val / evals.sum(), rel=1e-3
    )


def test_pca_power_coords_match_eigh_projection(spark, sf_dir):
    """The ladder-basis projection coordinates must match a straight
    numpy PCA projection (eigh basis, ddof=1 covariance, centered) up
    to each component's global sign — i.e. the oracle-exact query is
    computing real PCA coordinates, not merely reproducing itself."""
    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load
    from meshtastic_airsensor_database_spark.plans.vectorq import PCA_COORDS_MAX_ID

    data = (
        load(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    )
    X = np.array([r0.embedding for r0 in data], dtype=np.float64)
    ids = np.array([r0.vec_id for r0 in data])
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    W = evecs[:, [-1, -2]]  # top-2 eigh basis
    P = (X - X.mean(axis=0)) @ W
    by_id = {int(i): P[pos] for pos, i in enumerate(ids)}

    rows = sorted(
        REGISTRY["pca_power_coords"].builder(spark, sf_dir).collect(),
        key=lambda r0: r0.vec_id,
    )
    assert len(rows) == min(PCA_COORDS_MAX_ID, len(X))
    got = np.array([[r0.pc1, r0.pc2] for r0 in rows])
    want = np.array([by_id[r0.vec_id] for r0 in rows])
    for k in range(2):
        # align each component's arbitrary sign, then compare shapes:
        # cosine of the 50-coordinate vectors (v2 converges at 0.99, so
        # its coordinates carry a small angle error by construction)
        g, w = got[:, k], want[:, k]
        c = float(g @ w) / (np.linalg.norm(g) * np.linalg.norm(w))
        assert abs(c) > (0.999 if k == 0 else 0.99), (k, c)


def test_pca_power_two_components_converge_and_orthogonal(spark, sf_dir):
    """The deflated second component must converge to numpy's second
    eigenvector (|cos| > 0.99), stay near-orthogonal to the first, and
    both Rayleigh eigenvalues must match eigh's."""
    import numpy as np

    from meshtastic_airsensor_database_spark.io_utils import load

    data = load(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r0.embedding for r0 in data], dtype=np.float64)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)

    rows = sorted(
        REGISTRY["pca_power_two_components"].builder(spark, sf_dir).collect(),
        key=lambda r0: r0.dim_idx,
    )
    v1 = np.array([r0.pc1 for r0 in rows])
    v2 = np.array([r0.pc2 for r0 in rows])
    assert abs(float(v1 @ evecs[:, -1])) > 0.999
    assert abs(float(v2 @ evecs[:, -2])) > 0.99
    assert abs(float(v1 @ v2)) < 1e-2  # deflation keeps the pair orthogonal
    assert rows[0].ev1 == pytest.approx(evals[-1], rel=1e-3)
    assert rows[0].ev2 == pytest.approx(evals[-2], rel=1e-3)


def test_semantic_strict_tier_catches_planted_contamination(spark, tmp_path):
    """The synthetic corpus has NO cross-split pairs near the 0.9
    production threshold (max cross cosine 0.4355 at sf0.001), so the
    oracle parity alone never exercises the strict tier's DETECTION
    claim. Plant real contamination: eval vectors whose train-side
    near-copies sit at cosine >= 0.9, among random distractors. The
    8x10-bit banding's theoretical per-pair recall at cosine 0.93-0.97
    is 0.93-0.97 — require >= 75% of planted pairs surface with
    n_contaminating >= 1 and top_cosine >= 0.9, and that the sharp
    bands don't drag in the whole distractor set."""
    import hashlib

    import numpy as np

    from meshtastic_airsensor_database_spark.plans.vectorq import (
        SEMCON_EVAL_MOD,
        semantic_contaminated_evals_strict,
    )

    def is_eval(vec_id: int) -> bool:
        h = hashlib.md5(str(vec_id).encode()).hexdigest()
        return int(h[:8], 16) % SEMCON_EVAL_MOD == 0

    rng = np.random.default_rng(7)
    dim = 16
    eval_ids = [i for i in range(1, 2000) if is_eval(i)][:40]
    train_pool = [i for i in range(2001, 6000) if not is_eval(i)]

    rows = []
    planted = {}  # eval_id -> actual cosine of its planted train copy
    ti = 0
    for eid in eval_ids:
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        noise = rng.normal(size=dim) * 0.07
        w = v + noise
        cos = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        rows.append((eid, [float(x) for x in v]))
        rows.append((train_pool[ti], [float(x) for x in w]))
        planted[eid] = cos
        ti += 1
    n_distractors = 200
    for _ in range(n_distractors):
        d = rng.normal(size=dim)
        rows.append((train_pool[ti], [float(x) for x in d]))
        ti += 1

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {
        r["eval_id"]: r
        for r in semantic_contaminated_evals_strict(
            spark, str(tmp_path)
        ).collect()
    }
    target = {e for e, c in planted.items() if c >= 0.9}
    assert len(target) >= 30, "fixture drifted: too few >=0.9 plants"
    caught = {
        e for e in target
        if e in out and out[e]["n_contaminating"] >= 1
    }
    assert len(caught) >= 0.75 * len(target), (
        len(caught), len(target)
    )
    for e in caught:
        assert out[e]["top_cosine"] >= 0.9
    # sharp prune: no eval may see anywhere near the full train side as
    # candidates (the loose 3-bit tier would collide on ~63% of pairs)
    n_train = len(planted) + n_distractors
    for r in out.values():
        assert r["n_candidates"] <= 0.25 * n_train, r


def test_fold_numpy_twins():
    """_matmul_fold/_matvec_fold must be BIT-identical to the ascending
    left-fold Python arithmetic they replaced (np.add.accumulate is
    sequential, not pairwise) — the exactness contract of the PCA
    power-iteration drivers."""
    import numpy as np

    from meshtastic_airsensor_database_spark.plans.vectorq import (
        _dotfold,
        _matmul_fold,
        _matvec_fold,
    )

    rng = np.random.RandomState(11)
    d = 37  # odd, above numpy's pairwise-summation block threshold
    A = rng.randn(d, d) * rng.choice([1e-8, 1.0, 1e8], size=(d, d))
    Bm = rng.randn(d, d)
    got = _matmul_fold(A, Bm)
    for i in range(d):
        for j in range(d):
            want = _dotfold(
                [float(A[i][k]) for k in range(d)],
                [float(Bm[k][j]) for k in range(d)],
            )
            assert got[i, j] == want, (i, j)
    v = rng.randn(d)
    gv = _matvec_fold(Bm, v)
    for i in range(d):
        acc = 0.0
        for j in range(d):
            acc += float(Bm[i][j]) * float(v[j])
        assert gv[i] == acc, i
