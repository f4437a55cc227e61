"""Round-12 operators: segmented runs test, approx distinct-ngrams,
quantile regression, log-rank test, permutation test.

Each operator gets hand-computed assertions here plus a registry
oracle (plans/).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# runs_test(segments=B): skew-immune path must equal the window path
# ---------------------------------------------------------------------------


def test_runs_segmented_equals_default_micro(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        runs_test,
    )

    alt = [("a", t, t % 2 == 0) for t in range(10)]
    clu = [("b", t, t < 5) for t in range(10)]
    df = spark.createDataFrame(alt + clu, "k string, t int, x boolean")
    seg = {r.k: r for r in runs_test(df, "k", "t", "x", segments=4).collect()}
    # alternating: R=10; clustered: R=2 (hand-computed, same as the
    # default-path test) — segment merging must not create or lose runs
    assert seg["a"].n_runs == 10 and seg["b"].n_runs == 2
    assert seg["a"].z == pytest.approx(4 / math.sqrt(20 / 9.0), abs=1e-9)


def test_runs_segmented_equals_default_randomized(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        runs_test,
    )

    rng = random.Random(12)
    rows = [
        (f"k{i % 7}", t, rng.random() < 0.4)
        for i, t in enumerate(range(700))
    ]
    df = spark.createDataFrame(rows, "k string, t int, x boolean")
    want = {
        r.k: r.asDict() for r in runs_test(df, "k", "t", "x").collect()
    }
    for b in (2, 3, 16, 64):  # more segments than rows per key too
        got = {
            r.k: r.asDict()
            for r in runs_test(df, "k", "t", "x", segments=b).collect()
        }
        assert got == want, f"segments={b} diverged"


def test_runs_segmented_single_segment_and_degenerate(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        runs_test,
    )

    df = spark.createDataFrame(
        [("a", t, True) for t in range(5)], "k string, t int, x boolean"
    )
    r = runs_test(df, "k", "t", "x", segments=8).collect()[0]
    assert r.n_runs == 1 and r.z is None


# ---------------------------------------------------------------------------
# distinct_ngram_diversity_approx: HLL++ agreement bound vs exact
# ---------------------------------------------------------------------------


def test_distinct_ngrams_approx_agreement(spark):
    from icnarc_to_philips_linkage_spark.operators.text import (
        distinct_ngram_diversity,
        distinct_ngram_diversity_approx,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    rows = [
        (f"s{i % 3}", " ".join(rng.choices(vocab, k=30)))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    ex = {
        (r.source, r.n): r.distinct_ngrams
        for r in distinct_ngram_diversity(df, "source").collect()
    }
    ap = distinct_ngram_diversity_approx(df, "source", rsd=0.02).collect()
    assert {(r.source, r.n) for r in ap} == set(ex)
    for r in ap:
        exact = ex[(r.source, r.n)]
        # 3x rsd bound, the _DNG_EPS discipline
        assert abs(r.distinct_ngrams_approx - exact) / exact <= 0.06
        # totals are exact longs on both paths
        assert r.total_ngrams > 0

# ---------------------------------------------------------------------------
# paired sign-flip permutation test
# ---------------------------------------------------------------------------


def test_perm_paired_identical_pairs_p_one(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        paired_permutation_test,
    )

    df = spark.createDataFrame(
        [(str(i), 3.5, 3.5) for i in range(40)],
        "k string, a double, b double",
    )
    r = paired_permutation_test(df, "a", "b", "k", n_resamples=64).collect()[0]
    # every d = 0 -> T_obs = 0 and every T_b = 0 -> all 64 hits
    assert r.n_pairs == 40 and r.mean_diff == 0.0
    assert r.p_value == pytest.approx(1.0)


def test_perm_paired_strong_effect(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        paired_permutation_test,
    )

    df = spark.createDataFrame(
        [(str(i), float(i) + 10.0, float(i)) for i in range(50)],
        "k string, a double, b double",
    )
    r = paired_permutation_test(df, "a", "b", "k", n_resamples=64).collect()[0]
    assert r.mean_diff == pytest.approx(10.0)
    # |T_b| >= |T_obs| needs ALL 50 md5 sign bits equal — no band does
    assert r.p_value == pytest.approx(1.0 / 65.0, abs=1e-9)


def test_perm_paired_empty(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        paired_permutation_test,
    )

    df = spark.createDataFrame([], "k string, a double, b double")
    r = paired_permutation_test(df, "a", "b", "k", n_resamples=8).collect()[0]
    assert r.n_pairs == 0 and r.mean_diff is None and r.p_value is None


# ---------------------------------------------------------------------------
# quantile regression (pinball subgradient descent)
# ---------------------------------------------------------------------------


def _py_qr(rows, feature_idx, tau, lr, iters):
    """Pure-Python replay of quantile_gd_train_trajectory's exact
    arithmetic: left-associated z, exact comparison indicator, 1e-12
    integer contributions, the verbatim update expression."""
    GRID = 1e12
    k = len(feature_idx) + 1
    w = [0.0] * k
    traj = []
    for _ in range(iters):
        sums = [0] * k
        n = 0
        for r in rows:
            xs = [1.0] + [float(r[j]) for j in feature_idx]
            y = float(r[-1])
            z = w[0] * xs[0]
            for j in range(1, k):
                z = z + w[j] * xs[j]
            resid = (1.0 if y < z else 0.0) - tau
            for j in range(k):
                v = resid * xs[j]
                q = 0 if v == 0 else (
                    (1 if v > 0 else -1) * math.floor(abs(v) * GRID + 0.5)
                )
                sums[j] += int(q)
            n += 1
        w = [w[j] - lr * (float(sums[j]) / GRID) / n for j in range(k)]
        traj.append(list(w))
    return traj


def test_quantile_gd_matches_python_replay(spark):
    from icnarc_to_philips_linkage_spark.operators.regression import (
        quantile_gd_train_trajectory,
    )

    rng = random.Random(5)
    rows = [(rng.random(), rng.random() * 2.0 + 0.3) for _ in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = quantile_gd_train_trajectory(
        df, ["x"], "y", tau=0.75, lr=0.5, iters=8
    )
    want = _py_qr(rows, [0], 0.75, 0.5, 8)
    assert got == want  # bit-exact


def test_quantile_gd_intercept_converges_to_quantile(spark):
    from icnarc_to_philips_linkage_spark.operators.regression import (
        quantile_gd_train_trajectory,
    )

    ys = [float(v) for v in range(10)]  # q50 between 4 and 5
    df = spark.createDataFrame([(y,) for y in ys], "y double")
    w = quantile_gd_train_trajectory(
        df, [], "y", tau=0.5, lr=1.0, iters=40
    )[-1]
    assert 3.5 <= w[0] <= 5.5


def test_pinball_loss_expr_hand(spark):
    from icnarc_to_philips_linkage_spark.operators.regression import (
        pinball_loss_expr,
    )

    # w = [1.0, 2.0], tau = 0.25: z = 1 + 2x
    # (x=1, y=5) -> r=2  -> rho = 2*0.25 = 0.5
    # (x=1, y=1) -> r=-2 -> rho = -2*(0.25-1) = 1.5
    df = spark.createDataFrame(
        [(1.0, 5.0), (1.0, 1.0)], "x double, y double"
    )
    vals = sorted(
        r[0]
        for r in df.select(
            pinball_loss_expr(["x"], [1.0, 2.0], 0.25, "y")
        ).collect()
    )
    assert vals == pytest.approx([0.5, 1.5])


# ---------------------------------------------------------------------------
# Hellinger drift distance + Kendall's W
# ---------------------------------------------------------------------------


def test_hellinger_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.drift import (
        hellinger_distance,
    )

    # ref uniform over 2 buckets, cur all in bucket 0:
    # BC = sqrt(0.5) ; H = sqrt(1 - sqrt(0.5))
    rows = [(True, 0.5), (True, 1.5), (False, 0.5), (False, 0.5)]
    df = spark.createDataFrame(rows, "ref boolean, v double")
    r = hellinger_distance(
        df, F.col("ref"), "v", lo=0.0, hi=2.0, bins=2
    ).collect()[0]
    assert r.n_ref == 2 and r.n_cur == 2
    assert r.bhattacharyya == pytest.approx(math.sqrt(0.5), abs=1e-9)
    assert r.hellinger == pytest.approx(
        math.sqrt(1.0 - math.sqrt(0.5)), abs=1e-9
    )


def test_hellinger_identical_and_disjoint(spark):
    from icnarc_to_philips_linkage_spark.operators.drift import (
        hellinger_distance,
    )

    same = [(True, 0.5), (False, 0.5)]
    df = spark.createDataFrame(same, "ref boolean, v double")
    r = hellinger_distance(df, F.col("ref"), "v", 0.0, 2.0, 2).collect()[0]
    assert r.bhattacharyya == 1.0 and r.hellinger == 0.0
    disj = [(True, 0.5), (False, 1.5)]
    df = spark.createDataFrame(disj, "ref boolean, v double")
    r = hellinger_distance(df, F.col("ref"), "v", 0.0, 2.0, 2).collect()[0]
    assert r.bhattacharyya == 0.0 and r.hellinger == 1.0


def test_kendall_w_perfect_and_null_concordance(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        kendall_w,
    )

    # 3 raters rank 3 items identically -> chi2 = m(k-1) = 6, W = 1
    perfect = [
        (r, it, float(v))
        for r in ("r1", "r2", "r3")
        for it, v in (("a", 1), ("b", 2), ("c", 3))
    ]
    df = spark.createDataFrame(perfect, "b string, t string, v double")
    out = kendall_w(df, "b", "t", "v").collect()[0]
    assert out.k == 3 and out.n_raters == 3
    assert out.w == 1.0 and out.chi2_f == 6.0
    # rotations cancel: every item's rank sum equal -> chi2 = 0, W = 0
    rot = [
        ("r1", "a", 1.0), ("r1", "b", 2.0), ("r1", "c", 3.0),
        ("r2", "a", 2.0), ("r2", "b", 3.0), ("r2", "c", 1.0),
        ("r3", "a", 3.0), ("r3", "b", 1.0), ("r3", "c", 2.0),
    ]
    df = spark.createDataFrame(rot, "b string, t string, v double")
    out = kendall_w(df, "b", "t", "v").collect()[0]
    assert out.w == 0.0


def test_kendall_w_all_tied_null(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        kendall_w,
    )

    rows = [(r, t, 1.0) for r in ("r1", "r2") for t in ("a", "b")]
    df = spark.createDataFrame(rows, "b string, t string, v double")
    out = kendall_w(df, "b", "t", "v").collect()[0]
    assert out.w is None and out.chi2_f is None


# ---------------------------------------------------------------------------
# Nelson-Aalen + Gehan-weighted log-rank
# ---------------------------------------------------------------------------


def test_nelson_aalen_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        nelson_aalen,
    )

    rows = [(1, 1), (1, 1), (2, 0), (3, 1)]
    df = spark.createDataFrame(rows, "duration int, observed int")
    out = {r.duration: r for r in nelson_aalen(df, "duration", "observed").collect()}
    # t=1: n=4,d=2 -> h=.5, vh=.125; t=2: censored only; t=3: n=1,d=1
    assert out[1].n_risk == 4 and out[1].n_events == 2
    assert out[1].cum_hazard == pytest.approx(0.5)
    assert out[1].var_hazard == pytest.approx(0.125)
    assert out[2].cum_hazard == pytest.approx(0.5)
    assert out[3].cum_hazard == pytest.approx(1.5)
    assert out[3].var_hazard == pytest.approx(1.125)


def test_logrank_gehan_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        logrank_test,
    )

    rows = [("a", 1, 1), ("a", 2, 1), ("b", 1, 1), ("b", 3, 1)]
    df = spark.createDataFrame(rows, "g string, duration int, observed int")
    r = logrank_test(
        df, "duration", "observed", F.col("g") == "a", weight="gehan"
    ).collect()[0]
    # t1: u=4*1-2*2=0, v=2*2*2*2/3; t2: u=2*1-1*1=1, v=1; t3: u=0,v=0
    assert r.u_g == pytest.approx(1.0)
    assert r.v_g == pytest.approx(16.0 / 3.0 + 1.0, abs=1e-6)
    assert r.z == pytest.approx(1.0 / math.sqrt(19.0 / 3.0), abs=1e-6)


def test_logrank_weight_validation(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        logrank_test,
    )

    df = spark.createDataFrame([(1, 1)], "duration int, observed int")
    with pytest.raises(ValueError):
        logrank_test(df, "duration", "observed", F.lit(True), weight="peto")
