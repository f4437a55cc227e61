"""Round-12 batch-2 operators: Jarque-Bera, Bartlett, Cohen's d,
Anderson-Darling 2-sample, Durbin-Watson, Pettitt change point,
Harrell's C, Lin's CCC, Cronbach's alpha.

Each gets hand-computed assertions here plus a registry oracle
(plans/).
"""

from __future__ import annotations

import math

import pytest


# ---------------------------------------------------------------------------
# jarque_bera
# ---------------------------------------------------------------------------


def test_jarque_bera_symmetric_hand(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        jarque_bera,
    )

    df = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3, 4, 5)], "g string, v long"
    )
    r = jarque_bera(df, "g", "v").collect()[0]
    # symmetric: g1=0; m2=2, m4=6.8 -> g2 = 6.8/4 - 3 = -1.3
    # JB = 5/6 * (0 + 1.69/4) = 0.3520833...; p = exp(-JB/2)
    assert r.skewness == pytest.approx(0.0, abs=1e-9)
    assert r.excess_kurtosis == pytest.approx(-1.3, abs=1e-6)
    assert r.jb_stat == pytest.approx(5.0 / 6.0 * (1.69 / 4.0), abs=1e-6)
    assert r.p_value == pytest.approx(
        math.exp(-5.0 / 6.0 * (1.69 / 4.0) / 2.0), abs=1e-6
    )


def test_jarque_bera_constant_group_null(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        jarque_bera,
    )

    df = spark.createDataFrame(
        [("a", 7), ("a", 7), ("b", 7)], "g string, v long"
    )
    rows = {r.g: r for r in jarque_bera(df, "g", "v").collect()}
    assert rows["a"].jb_stat is None and rows["a"].p_value is None
    assert rows["b"].n == 1 and rows["b"].jb_stat is None


def test_jarque_bera_rejects_non_integer(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        jarque_bera,
    )

    df = spark.createDataFrame([("a", 1.5)], "g string, v double")
    with pytest.raises(ValueError, match="integer"):
        jarque_bera(df, "g", "v")


# ---------------------------------------------------------------------------
# bartlett_test
# ---------------------------------------------------------------------------


def test_bartlett_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        bartlett_test,
    )

    rows = [("a", v) for v in (1, 2, 3, 4, 5)] + [
        ("b", v) for v in (2, 4, 6, 8, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    r = bartlett_test(df, "g", "v").collect()[0]
    # s_a^2 = 2.5, s_b^2 = 10, pooled = 6.25, N=10, k=2
    num = 8 * math.log(6.25) - (4 * math.log(2.5) + 4 * math.log(10.0))
    corr = 1.0 + ((0.25 + 0.25) - 0.125) / 3.0
    assert r.k == 2 and r.n == 10 and r.dof == 1
    assert r.t_stat == pytest.approx(num / corr, abs=1e-5)


def test_bartlett_equal_variances_zero(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        bartlett_test,
    )

    rows = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (5, 6, 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = bartlett_test(df, "g", "v").collect()[0]
    assert r.t_stat == pytest.approx(0.0, abs=1e-6)


def test_bartlett_drops_degenerate_groups(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        bartlett_test,
    )

    rows = (
        [("a", v) for v in (1, 2, 3)]
        + [("b", 9)]  # n=1: dropped
        + [("c", 4), ("c", 4)]  # zero variance: dropped
    )
    df = spark.createDataFrame(rows, "g string, v long")
    r = bartlett_test(df, "g", "v").collect()[0]
    assert r.k == 1 and r.t_stat is None


# ---------------------------------------------------------------------------
# cohens_d
# ---------------------------------------------------------------------------


def test_cohens_d_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        cohens_d,
    )

    rows = [("a", v) for v in (2, 4, 6)] + [("b", v) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = cohens_d(df, "g", "v", "a", "b").collect()[0]
    # var_a=4, var_b=1, pooled = sqrt(2.5), d = 2/sqrt(2.5)
    d = 2.0 / math.sqrt(2.5)
    assert r.pooled_sd == pytest.approx(math.sqrt(2.5), abs=1e-6)
    assert r.d == pytest.approx(d, abs=1e-6)
    assert r.hedges_g == pytest.approx(0.8 * d, abs=1e-6)  # J=1-3/15
    se = math.sqrt(6.0 / 9.0 + d * d / 8.0)
    assert r.ci_lo == pytest.approx(d - 1.959963984540054 * se, abs=1e-5)
    assert r.ci_hi == pytest.approx(d + 1.959963984540054 * se, abs=1e-5)


def test_cohens_d_degenerate_null(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        cohens_d,
    )

    rows = [("a", 5), ("b", 1), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = cohens_d(df, "g", "v", "a", "b").collect()[0]
    assert r.n_a == 1 and r.d is None and r.hedges_g is None


# ---------------------------------------------------------------------------
# ad_two_sample_exact
# ---------------------------------------------------------------------------


def _ad_reference(xs_a, xs_b):
    """Direct loop over the pooled distinct grid (excluding the last
    cell): A2 = (1/(m*n)) * sum l*D^2/(B*(N-B))."""
    m, n = len(xs_a), len(xs_b)
    grid = sorted(set(xs_a) | set(xs_b))
    cum_a = cum_b = 0
    total = 0.0
    for v in grid:
        la = sum(1 for x in xs_a if x == v)
        lb = sum(1 for x in xs_b if x == v)
        cum_a += la
        cum_b += lb
        bj = cum_a + cum_b
        if bj == m + n:
            break
        d = n * cum_a - m * cum_b
        total += (la + lb) * d * d / (bj * (m + n - bj))
    return total / (m * n)


def test_ad_two_sample_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        ad_two_sample_exact,
    )

    xs_a, xs_b = [1, 3], [2, 4]
    rows = [("A", v) for v in xs_a] + [("B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ad_two_sample_exact(df, "g", "v", "A", "B").collect()[0]
    # cells 1,2,3 contribute 4/3, 0, 4/3 -> A2 = (1/4)*(8/3) = 2/3
    assert r.a2_stat == pytest.approx(2.0 / 3.0, abs=1e-8)
    assert r.a2_stat == pytest.approx(_ad_reference(xs_a, xs_b), abs=1e-8)


def test_ad_two_sample_matches_reference_loop(spark):
    import random

    from icnarc_to_philips_linkage_spark.operators.profile import (
        ad_two_sample_exact,
    )

    rng = random.Random(5)
    xs_a = [rng.randint(0, 30) for _ in range(80)]
    xs_b = [rng.randint(5, 40) for _ in range(60)]
    rows = [("A", v) for v in xs_a] + [("B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ad_two_sample_exact(df, "g", "v", "A", "B").collect()[0]
    assert r.n_a == 80 and r.n_b == 60
    assert r.a2_stat == pytest.approx(_ad_reference(xs_a, xs_b), abs=1e-6)


def test_ad_two_sample_empty_group_null(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        ad_two_sample_exact,
    )

    df = spark.createDataFrame([("A", 1)], "g string, v long")
    r = ad_two_sample_exact(df, "g", "v", "A", "B").collect()[0]
    assert r.n_b == 0 and r.a2_stat is None


# ---------------------------------------------------------------------------
# durbin_watson
# ---------------------------------------------------------------------------


def test_durbin_watson_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        durbin_watson,
    )

    rows = [("a", t, v) for t, v in enumerate((1, 2, 3, 4))] + [
        ("b", t, v) for t, v in enumerate((1, 5, 1, 5))
    ]
    df = spark.createDataFrame(rows, "k string, t int, v long")
    got = {r.k: r for r in durbin_watson(df, "k", ["t"], "v").collect()}
    # a: num=3, den = (4*30-100)/4 = 5 -> DW = 0.6
    assert got["a"].dw_stat == pytest.approx(0.6, abs=1e-9)
    # b: num=48, den = (4*52-144)/4 = 16 -> DW = 3.0
    assert got["b"].dw_stat == pytest.approx(3.0, abs=1e-9)


def test_durbin_watson_constant_null(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        durbin_watson,
    )

    df = spark.createDataFrame(
        [("a", t, 7) for t in range(4)] + [("c", 0, 3)],
        "k string, t int, v long",
    )
    got = {r.k: r for r in durbin_watson(df, "k", ["t"], "v").collect()}
    assert got["a"].dw_stat is None and got["c"].dw_stat is None


# ---------------------------------------------------------------------------
# pettitt_test
# ---------------------------------------------------------------------------


def test_pettitt_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        pettitt_test,
    )

    vals = [1, 2, 1, 2, 10, 11, 10, 11]
    df = spark.createDataFrame(
        [("a", t, float(v)) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    r = pettitt_test(df, "k", ["t"], "v").collect()[0]
    # midranks 1.5,3.5,1.5,3.5,5.5,7.5,5.5,7.5; U = -6,-8,-14,-16,-14,-8,-6
    # K = 16 at t=4; p = 2*exp(-6*256/576)
    assert r.n == 8 and r.k_stat == pytest.approx(16.0, abs=1e-9)
    assert r.t_split == 4
    assert r.p_value == pytest.approx(
        2.0 * math.exp(-6.0 * 256.0 / 576.0), abs=1e-6
    )


def test_pettitt_earliest_split_on_ties(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        pettitt_test,
    )

    # two observations, one split candidate each |U_1| equal cases:
    # symmetric series has |U| tie across t; argmax must pick earliest
    vals = [1, 2, 2, 1]
    df = spark.createDataFrame(
        [("a", t, float(v)) for t, v in enumerate(vals)],
        "k string, t int, v double",
    )
    r = pettitt_test(df, "k", ["t"], "v").collect()[0]
    # ranks 1.5, 3.5, 3.5, 1.5; U_t = -2, 0, 2 -> |U| ties at t=1, t=3
    assert r.k_stat == pytest.approx(2.0, abs=1e-9)
    assert r.t_split == 1


def test_pettitt_p_capped_at_one(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        pettitt_test,
    )

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 1.0)], "k string, t int, v double"
    )
    r = pettitt_test(df, "k", ["t"], "v").collect()[0]
    # all tied: U_1 = 0, K = 0, p = min(1, 2*exp(0)) = 1
    assert r.k_stat == 0.0 and r.p_value == 1.0


# ---------------------------------------------------------------------------
# harrell_c_index
# ---------------------------------------------------------------------------


def test_harrell_c_perfect_concordance(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        harrell_c_index,
    )

    df = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 2), (3, 0, 1)], "t int, e int, s int"
    )
    r = harrell_c_index(df, "t", "e", "s").collect()[0]
    assert r.n_comparable == 3 and r.n_concordant == 3
    assert r.c_index == pytest.approx(1.0)


def test_harrell_c_ties_and_censoring(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        harrell_c_index,
    )

    # (1,censored) first: pair not comparable; tied scores count 1/2
    df = spark.createDataFrame(
        [(1, 0, 9), (2, 1, 5), (3, 1, 5)], "t int, e int, s int"
    )
    r = harrell_c_index(df, "t", "e", "s").collect()[0]
    # comparable: only (t=2 -> t=3), scores tied
    assert r.n_comparable == 1 and r.n_tied_score == 1
    assert r.c_index == pytest.approx(0.5)


def test_harrell_c_discordant_and_counts(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        harrell_c_index,
    )

    # earlier failure with LOWER score = discordant
    df = spark.createDataFrame(
        [(1, 1, 1), (2, 1, 2), (4, 0, 3)], "t int, e int, s int"
    )
    r = harrell_c_index(df, "t", "e", "s").collect()[0]
    assert r.n_comparable == 3 and r.n_discordant == 3
    assert r.c_index == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# lin_ccc
# ---------------------------------------------------------------------------


def test_lin_ccc_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        lin_ccc,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 4), (3, 6)], "x long, y long"
    )
    r = lin_ccc(df, "x", "y").collect()[0]
    # r = 1 (exact linear) but ccc = 2*cov/(vx+vy+(mx-my)^2)
    # n2-scaled: cov2=12, vx2=6, vy2=24, dm2=36 -> ccc = 24/66
    assert r.pearson_r == pytest.approx(1.0)
    assert r.ccc == pytest.approx(24.0 / 66.0, abs=1e-6)


def test_lin_ccc_perfect_agreement(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        lin_ccc,
    )

    df = spark.createDataFrame(
        [(v, v) for v in (1, 5, 9, 2)], "x long, y long"
    )
    r = lin_ccc(df, "x", "y").collect()[0]
    assert r.ccc == pytest.approx(1.0) and r.pearson_r == pytest.approx(1.0)


def test_lin_ccc_constant_null(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        lin_ccc,
    )

    df = spark.createDataFrame([(1, 2), (1, 3)], "x long, y long")
    r = lin_ccc(df, "x", "y").collect()[0]
    assert r.pearson_r is None  # x constant
    # ccc defined when the denominator > 0 (location shift contributes)
    assert r.ccc is not None


# ---------------------------------------------------------------------------
# cronbach_alpha
# ---------------------------------------------------------------------------


def test_cronbach_alpha_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        cronbach_alpha,
    )

    rows = [
        ("u1", "i1", 1), ("u1", "i2", 2),
        ("u2", "i1", 2), ("u2", "i2", 3),
        ("u3", "i1", 3), ("u3", "i2", 4),
        ("u4", "i1", 4), ("u4", "i2", 6),
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = cronbach_alpha(df, "u", "i", "v").collect()[0]
    # item vars 20/12, 35/12; total var 107/12 -> alpha = 2*(52/107)
    assert r.k == 2 and r.n_units == 4
    assert r.alpha == pytest.approx(104.0 / 107.0, abs=1e-6)


def test_cronbach_alpha_incomplete_units_dropped(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        cronbach_alpha,
    )

    rows = [
        ("u1", "i1", 1), ("u1", "i2", 2),
        ("u2", "i1", 2), ("u2", "i2", 3),
        ("u3", "i1", 3), ("u3", "i2", 4),
        ("u4", "i1", 4), ("u4", "i2", 6),
        ("u5", "i1", 99),  # incomplete: dropped
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = cronbach_alpha(df, "u", "i", "v").collect()[0]
    assert r.n_units == 4
    assert r.alpha == pytest.approx(104.0 / 107.0, abs=1e-6)


def test_cronbach_alpha_duplicate_observations_sum(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        cronbach_alpha,
    )

    # u1/i1 observed twice (1 then 0) == once with value 1
    rows = [
        ("u1", "i1", 1), ("u1", "i1", 0), ("u1", "i2", 2),
        ("u2", "i1", 2), ("u2", "i2", 3),
        ("u3", "i1", 3), ("u3", "i2", 4),
        ("u4", "i1", 4), ("u4", "i2", 6),
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = cronbach_alpha(df, "u", "i", "v").collect()[0]
    assert r.alpha == pytest.approx(104.0 / 107.0, abs=1e-6)


# ---------------------------------------------------------------------------
# granger_lag1
# ---------------------------------------------------------------------------


def _granger_replay(ys, xs):
    """Pure-Python float replay of the operator's fixed expression
    tree (exact integer sums -> Cramer's rule -> RSS identity)."""
    pairs = [
        (ys[t], ys[t - 1], xs[t - 1]) for t in range(1, len(ys))
    ]
    n = float(len(pairs))
    sy = float(sum(p[0] for p in pairs))
    sy1 = float(sum(p[1] for p in pairs))
    sx1 = float(sum(p[2] for p in pairs))
    syy = float(sum(p[0] * p[0] for p in pairs))
    sy1y1 = float(sum(p[1] * p[1] for p in pairs))
    sx1x1 = float(sum(p[2] * p[2] for p in pairs))
    syy1 = float(sum(p[0] * p[1] for p in pairs))
    syx1 = float(sum(p[0] * p[2] for p in pairs))
    sy1x1 = float(sum(p[1] * p[2] for p in pairs))

    def det3(a, b, c, d, e, f, g, h, i):
        return a * (e * i - f * h) - b * (d * i - f * g) + c * (
            d * h - e * g
        )

    det = det3(n, sy1, sx1, sy1, sy1y1, sy1x1, sx1, sy1x1, sx1x1)
    b0 = det3(sy, sy1, sx1, syy1, sy1y1, sy1x1, syx1, sy1x1, sx1x1) / det
    b1 = det3(n, sy, sx1, sy1, syy1, sy1x1, sx1, syx1, sx1x1) / det
    b2 = det3(n, sy1, sy, sy1, sy1y1, syy1, sx1, sy1x1, syx1) / det
    rss_u = syy - (b0 * sy + b1 * syy1 + b2 * syx1)
    d2 = n * sy1y1 - sy1 * sy1
    b0r = (sy * sy1y1 - sy1 * syy1) / d2
    b1r = (n * syy1 - sy1 * sy) / d2
    rss_r = syy - (b0r * sy + b1r * syy1)
    fstat = (rss_r - rss_u) / (rss_u / (n - 3.0))

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0 else -(
            math.floor(-x * 1e6 + 0.5) / 1e6
        )

    return {
        "n": int(n), "b_y1": r6(b1), "b_x1": r6(b2),
        "rss_r": r6(rss_r), "rss_u": r6(rss_u), "f_stat": r6(fstat),
    }


def test_granger_lag1_matches_python_replay(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        granger_lag1,
    )

    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8]
    df = spark.createDataFrame(
        [(t, ys[t], xs[t]) for t in range(10)],
        "t int, y long, x long",
    )
    r = granger_lag1(df, "t", "y", "x").collect()[0]
    want = _granger_replay(ys, xs)
    assert r.n == want["n"]
    for k in ("b_y1", "b_x1", "rss_r", "rss_u", "f_stat"):
        assert getattr(r, k) == pytest.approx(want[k], abs=2e-6), k
    assert r.df2 == want["n"] - 3


def test_granger_lag1_informative_x_raises_f(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        granger_lag1,
    )

    # y_t tracks x_{t-1} with a small wobble: x's past is informative
    xs = [1, 5, 2, 6, 1, 5, 2, 6, 1, 5, 2, 6]
    ys = [0] + [xs[t - 1] + (t % 2) for t in range(1, 12)]
    df = spark.createDataFrame(
        [(t, ys[t], xs[t]) for t in range(12)],
        "t int, y long, x long",
    )
    r = granger_lag1(df, "t", "y", "x").collect()[0]
    assert r.f_stat is not None and r.f_stat > 10.0
    assert r.rss_u < r.rss_r


def test_granger_lag1_constant_y_null(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        granger_lag1,
    )

    df = spark.createDataFrame(
        [(t, 7, t % 3) for t in range(10)], "t int, y long, x long"
    )
    r = granger_lag1(df, "t", "y", "x").collect()[0]
    assert r.f_stat is None  # rss_u = 0: nothing left to explain


# ---------------------------------------------------------------------------
# icc_oneway
# ---------------------------------------------------------------------------


def test_icc_oneway_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        icc_oneway,
    )

    rows = [
        ("u1", "i1", 1), ("u1", "i2", 2),
        ("u2", "i1", 2), ("u2", "i2", 3),
        ("u3", "i1", 3), ("u3", "i2", 4),
        ("u4", "i1", 4), ("u4", "i2", 6),
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = icc_oneway(df, "u", "i", "v").collect()[0]
    # SSB = 183/2 - 625/8 = 13.375, SSW = 95 - 91.5 = 3.5
    # MSB = 13.375/3, MSW = 3.5/4 -> ICC = 0.671875
    assert r.k == 2 and r.n_units == 4
    assert r.msb == pytest.approx(13.375 / 3.0, abs=1e-6)
    assert r.msw == pytest.approx(0.875, abs=1e-9)
    assert r.icc == pytest.approx(0.671875, abs=1e-6)


def test_icc_oneway_no_within_variance(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        icc_oneway,
    )

    rows = [
        (u, i, v)
        for u, v in (("a", 1), ("b", 5), ("c", 9))
        for i in ("i1", "i2", "i3")
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = icc_oneway(df, "u", "i", "v").collect()[0]
    assert r.msw == 0.0 and r.icc == pytest.approx(1.0)


def test_icc_oneway_drops_incomplete_and_duplicated_units(spark):
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        icc_oneway,
    )

    rows = [
        ("u1", "i1", 1), ("u1", "i2", 2),
        ("u2", "i1", 2), ("u2", "i2", 3),
        ("u3", "i1", 3), ("u3", "i2", 4),
        ("u4", "i1", 4), ("u4", "i2", 6),
        ("u5", "i1", 9),                     # incomplete
        ("u6", "i1", 1), ("u6", "i1", 2), ("u6", "i2", 3),  # duplicate
    ]
    df = spark.createDataFrame(rows, "u string, i string, v long")
    r = icc_oneway(df, "u", "i", "v").collect()[0]
    assert r.n_units == 4
    assert r.icc == pytest.approx(0.671875, abs=1e-6)


# ---------------------------------------------------------------------------
# ansari_bradley
# ---------------------------------------------------------------------------


def _ab_reference(xs_a, xs_b):
    """Direct midrank-score loop: a(i) = min(i, N+1-i), tied values
    share the mean score; returns (AB, mean, var)."""
    pooled = sorted(xs_a + xs_b)
    nn = len(pooled)
    scores = [min(i, nn + 1 - i) for i in range(1, nn + 1)]
    # midrank scores per distinct value
    by_val = {}
    i = 0
    for v in pooled:
        by_val.setdefault(v, []).append(scores[i])
        i += 1
    mid = {v: sum(s) / len(s) for v, s in by_val.items()}
    ab = sum(mid[v] for v in xs_a)
    ts = sum(scores)
    ssq = sum(len(s) * mid[v] ** 2 for v, s in by_val.items())
    m, n_ = len(xs_a), len(xs_b)
    mean = m * ts / nn
    var = m * n_ * (ssq - ts * ts / nn) / (nn * (nn - 1.0))
    return ab, mean, var


def test_ansari_bradley_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        ansari_bradley,
    )

    rows = [("A", 1), ("A", 4), ("B", 2), ("B", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ansari_bradley(df, "g", "v", "A", "B").collect()[0]
    # A in the tails: AB = 2, mean = 3, var = 1/3
    assert r.ab_stat == pytest.approx(2.0, abs=1e-9)
    assert r.z == pytest.approx(-1.0 / math.sqrt(1.0 / 3.0), abs=1e-6)


def test_ansari_bradley_tied_symmetric(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        ansari_bradley,
    )

    rows = [("A", 1), ("A", 2), ("B", 2), ("B", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ansari_bradley(df, "g", "v", "A", "B").collect()[0]
    # tied cell shares score 2: AB = 3 = mean -> z = 0, p = 1
    assert r.ab_stat == pytest.approx(3.0, abs=1e-9)
    assert r.z == 0.0 and r.p_value == pytest.approx(1.0, abs=1e-6)


def test_ansari_bradley_matches_reference_loop(spark):
    import random

    from icnarc_to_philips_linkage_spark.operators.profile import (
        ansari_bradley,
    )

    rng = random.Random(11)
    xs_a = [rng.randint(0, 25) for _ in range(90)]
    xs_b = [rng.randint(5, 20) for _ in range(70)]
    rows = [("A", v) for v in xs_a] + [("B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ansari_bradley(df, "g", "v", "A", "B").collect()[0]
    ab, mean, var = _ab_reference(xs_a, xs_b)
    assert r.n_a == 90 and r.n_b == 70
    assert r.ab_stat == pytest.approx(ab, abs=1e-6)
    assert r.z == pytest.approx((ab - mean) / math.sqrt(var), abs=1e-5)


def test_ansari_bradley_all_tied_null_z(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        ansari_bradley,
    )

    rows = [("A", 5), ("A", 5), ("B", 5)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = ansari_bradley(df, "g", "v", "A", "B").collect()[0]
    assert r.z is None and r.p_value is None


# ---------------------------------------------------------------------------
# lepage_test
# ---------------------------------------------------------------------------


def test_lepage_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        lepage_test,
    )

    rows = [("A", 1), ("A", 4), ("B", 2), ("B", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = lepage_test(df, "g", "v", "A", "B").collect()[0]
    # W: R_A = 5 = E[R_A] -> z_w = 0; AB: z_ab = -sqrt(3)
    assert r.z_w == pytest.approx(0.0, abs=1e-9)
    assert r.z_ab == pytest.approx(-math.sqrt(3.0), abs=1e-6)
    assert r.l_stat == pytest.approx(3.0, abs=1e-6)
    assert r.p_value == pytest.approx(math.exp(-1.5), abs=1e-6)


def _mw_z_reference(xs_a, xs_b):
    pooled = sorted(xs_a + xs_b)
    nn = len(pooled)
    import collections

    cnt = collections.Counter(pooled)
    # midranks
    rank, mid = 0, {}
    for v in sorted(cnt):
        mid[v] = rank + (cnt[v] + 1) / 2.0
        rank += cnt[v]
    ra = sum(mid[v] for v in xs_a)
    m, n_ = len(xs_a), len(xs_b)
    u = ra - m * (m + 1) / 2.0
    ties = sum(c**3 - c for c in cnt.values())
    var = (m * n_ / 12.0) * ((nn + 1) - ties / (nn * (nn - 1)))
    return (u - m * n_ / 2.0) / math.sqrt(var)


def test_lepage_matches_reference_loops(spark):
    import random

    from icnarc_to_philips_linkage_spark.operators.profile import (
        lepage_test,
    )

    rng = random.Random(23)
    xs_a = [rng.randint(0, 20) for _ in range(70)]
    xs_b = [rng.randint(3, 30) for _ in range(50)]
    rows = [("A", v) for v in xs_a] + [("B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = lepage_test(df, "g", "v", "A", "B").collect()[0]
    zw = _mw_z_reference(xs_a, xs_b)
    ab, mean, var = _ab_reference(xs_a, xs_b)
    zab = (ab - mean) / math.sqrt(var)
    assert r.z_w == pytest.approx(zw, abs=1e-5)
    assert r.z_ab == pytest.approx(zab, abs=1e-5)
    assert r.l_stat == pytest.approx(zw * zw + zab * zab, abs=1e-4)


# ---------------------------------------------------------------------------
# cucconi_test
# ---------------------------------------------------------------------------


def _cucconi_reference(xs_a, xs_b):
    import collections

    pooled = sorted(xs_a + xs_b)
    nn = len(pooled)
    cnt = collections.Counter(pooled)
    rank, mid = 0, {}
    for v in sorted(cnt):
        mid[v] = rank + (cnt[v] + 1) / 2.0
        rank += cnt[v]
    m, n_, nd = float(len(xs_a)), float(len(xs_b)), float(nn)
    srb = sum(mid[v] ** 2 for v in xs_b)
    srtb = sum((nn + 1 - mid[v]) ** 2 for v in xs_b)
    den = math.sqrt(
        m * n_ * (nd + 1.0) * (2.0 * nd + 1.0) * (8.0 * nd + 11.0)
        / 5.0
    )
    mu = n_ * (nd + 1.0) * (2.0 * nd + 1.0)
    u = (6.0 * srb - mu) / den
    v = (6.0 * srtb - mu) / den
    rho = 2.0 * (nd * nd - 4.0) / (
        (2.0 * nd + 1.0) * (8.0 * nd + 11.0)
    ) - 1.0
    c = (u * u + v * v - 2.0 * rho * u * v) / (
        2.0 * (1.0 - rho * rho)
    )
    return u, v, c


def test_cucconi_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.profile import (
        cucconi_test,
    )

    rows = [("A", 1), ("A", 4), ("B", 2), ("B", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    r = cucconi_test(df, "g", "v", "A", "B").collect()[0]
    u, v, c = _cucconi_reference([1, 4], [2, 3])
    assert r.u == pytest.approx(u, abs=1e-6)
    assert r.v == pytest.approx(v, abs=1e-6)
    assert r.c_stat == pytest.approx(c, abs=1e-6)
    assert r.p_value == pytest.approx(math.exp(-c), abs=1e-6)


def test_cucconi_matches_reference_loop_with_ties(spark):
    import random

    from icnarc_to_philips_linkage_spark.operators.profile import (
        cucconi_test,
    )

    rng = random.Random(31)
    xs_a = [rng.randint(0, 15) for _ in range(60)]
    xs_b = [rng.randint(0, 25) for _ in range(80)]
    rows = [("A", v) for v in xs_a] + [("B", v) for v in xs_b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = cucconi_test(df, "g", "v", "A", "B").collect()[0]
    u, v, c = _cucconi_reference(xs_a, xs_b)
    assert r.u == pytest.approx(u, abs=1e-5)
    assert r.v == pytest.approx(v, abs=1e-5)
    assert r.c_stat == pytest.approx(c, abs=1e-4)


# ---------------------------------------------------------------------------
# page_hinkley
# ---------------------------------------------------------------------------


def test_page_hinkley_hand_computed(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        page_hinkley,
    )

    xs = [0.0, 0.0, 0.0, 10.0, 10.0, 10.0]
    df = spark.createDataFrame(
        [("a", t, x) for t, x in enumerate(xs)],
        "k string, t int, v double",
    )
    r = page_hinkley(df, "k", ["t"], "v", delta=0.0, lam=10.0).collect()[0]
    # m = 0,0,0,7.5,13.5,18.5; min m = 0 -> PH = m
    assert r.n == 6
    assert r.max_ph == pytest.approx(18.5, abs=1e-6)
    assert r.n_alarms == 2 and r.first_alarm_t == 5


def test_page_hinkley_stable_series_no_alarm(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        page_hinkley,
    )

    xs = [5.0, 5.0, 5.0, 5.0]
    df = spark.createDataFrame(
        [("a", t, x) for t, x in enumerate(xs)],
        "k string, t int, v double",
    )
    r = page_hinkley(df, "k", ["t"], "v", lam=1.0).collect()[0]
    assert r.max_ph == 0.0 and r.n_alarms == 0
    assert r.first_alarm_t is None


def test_page_hinkley_downward_shift_invisible(spark):
    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        page_hinkley,
    )

    # the one-sided (upward) detector must NOT alarm on a drop
    xs = [10.0, 10.0, 10.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [("a", t, x) for t, x in enumerate(xs)],
        "k string, t int, v double",
    )
    r = page_hinkley(df, "k", ["t"], "v", lam=5.0).collect()[0]
    assert r.n_alarms == 0
