"""Percentile-method family and entropy-variants operators vs
independent implementations (the numpy sort golden / pure-python
loops)."""

from __future__ import annotations

import math

import numpy as np

import golden
from sonar_spark.operators import percentiles
from sonar_spark.operators.entropy import BIN_RULES, entropy_variants
from sonar_spark.operators.percentiles import (
    PERCENTILE_METHODS,
    percentile_methods,
)


def test_percentile_kernel_reference_arithmetic():
    """linear == numpy's R-7 (the reference's actual default
    arithmetic); all methods agree on boundaries."""
    rng = np.random.default_rng(3)
    x = rng.standard_normal(101)
    for q in (0.0, 0.1, 0.5, 0.9, 1.0):
        got = golden.percentile_method(x, q, "linear")
        want = float(np.percentile(x, q * 100, method="linear"))
        assert np.isclose(got, want, rtol=1e-12), (q, got, want)
    # reference quirk reproduced: median_unbiased h=(n+1)/3+(n-1)q/3
    # and normal_unbiased h=n/4+0.25+q(n+0.5) do NOT hit the data
    # extremes at q=0/1 — only the other six do
    for m in PERCENTILE_METHODS:
        if m not in ("median_unbiased", "normal_unbiased"):
            assert golden.percentile_method(x, 0.0, m) == x.min(), m
            assert golden.percentile_method(x, 1.0, m) == x.max(), m
        assert golden.percentile_method(np.array([7.0]), 0.4, m) == 7.0
    n = len(x)
    s = np.sort(x)
    h = (n + 1) / 3.0  # median_unbiased at q=0
    assert golden.percentile_method(x, 0.0, "median_unbiased") == s[
        int(np.floor(h)) - 1
    ] + (h - np.floor(h)) * (s[int(np.ceil(h)) - 1] - s[int(np.floor(h)) - 1])


def test_percentile_methods_spark_matches_kernel(spark, monkeypatch):
    """Catalyst order-statistic implementation == numpy sort golden
    for every method x q on random groups."""
    rng = np.random.default_rng(11)
    rows = []
    data = {}
    for g, n in (("a", 37), ("b", 100), ("c", 8)):
        vals = np.round(rng.standard_normal(n) * 10, 3)
        data[g] = vals
        rows += [(g, float(v)) for v in vals]
    # heavy-ties group: the r6 histogram formulation looks ranks up
    # as cum-ranges, so repeated values must collapse correctly
    vals = np.asarray([1.0] * 40 + [2.0] * 15 + [3.0] * 45)
    data["t"] = vals
    rows += [("t", float(v)) for v in vals]
    df = spark.createDataFrame(rows, "l_returnflag string, l_quantity double")
    monkeypatch.setattr(percentiles, "_QS", (0.25, 0.5, 0.9))
    out = percentile_methods(df)
    for r in out.collect():
        g = r["l_returnflag"]
        want = golden.percentile_method(data[g], r["q"], r["method"])
        assert np.isclose(r["value"], want, rtol=1e-12), (
            g, r["method"], r["q"], r["value"], want,
        )


def _entropy_loop(vals, rule, fixed_bins=16):
    """Independent loop implementation of entropy.go:165-606."""
    n = len(vals)
    mu = sum(vals) / n
    var = sum((x - mu) ** 2 for x in vals) / (n - 1)
    lo, hi0 = min(vals), max(vals)
    rng_ = hi0 - lo
    srt = sorted(vals)
    q1, q3 = srt[int(0.25 * n)], srt[int(0.75 * n)]
    if var > 0:
        sd = math.sqrt(var)
        skew = sum(((x - mu) / sd) ** 3 for x in vals) / n
    else:
        skew = 0.0
    if rule == "fixed":
        nb = fixed_bins
    elif rule == "sturges":
        nb = int(math.log2(n)) + 1
    elif rule == "scott":
        w = 3.49 * math.sqrt(var) * n ** (-1 / 3)
        nb = int(math.ceil(rng_ / w)) if w > 0 else 10
    elif rule == "fd":
        w = 2.0 * (q3 - q1) * n ** (-1 / 3)
        nb = int(math.ceil(rng_ / w)) if w > 0 else 10
    elif rule == "sqrt":
        nb = int(math.ceil(math.sqrt(n)))
    elif rule == "doane":
        sg = math.sqrt(6.0 * (n - 2) / ((n + 1) * (n + 3)))
        nb = int(1.0 + math.log2(n) + math.log2(1.0 + abs(skew) / sg))
    hi = hi0 if hi0 > lo else lo + 1.0
    counts = [0] * nb
    bw = (hi - lo) / nb
    for x in vals:
        counts[min(max(int((x - lo) / bw), 0), nb - 1)] += 1
    ps = [c / n for c in counts if c > 0]
    shannon = -sum(p * math.log2(p) for p in ps)
    sum_p2 = sum(p * p for p in ps)
    return {
        "num_bins": nb,
        "shannon": shannon + 0.0,
        "renyi2": -math.log2(sum_p2) + 0.0,
        "tsallis2": 1.0 - sum_p2,
        "hartley": math.log2(len(ps)),
        "min_entropy": -math.log2(max(ps)) + 0.0,
        "norm_shannon": shannon / math.log2(nb),
    }


def test_entropy_variants_matches_loop(spark):
    rng = np.random.default_rng(19)
    rows = []
    data = {}
    for g, n in (("x", 400), ("y", 97)):
        vals = [float(v) for v in np.round(rng.gamma(2.0, 3.0, n), 4)]
        data[g] = vals
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = entropy_variants(df, "value")
    seen = set()
    for r in out.collect():
        g = r["event_type"]
        want = _entropy_loop(data[g], r["rule"])
        seen.add((g, r["rule"]))
        assert r["num_bins"] == want["num_bins"], (g, r["rule"])
        for k in ("shannon", "renyi2", "tsallis2", "hartley",
                  "min_entropy", "norm_shannon"):
            assert np.isclose(r[k], want[k], rtol=1e-9, atol=1e-12), (
                g, r["rule"], k,
            )
    assert seen == {(g, rule) for g in data for rule in BIN_RULES}


def test_pearson_distance_and_matrix(spark):
    from sonar_spark.functions.arrays import euclidean, pearson_distance
    from sonar_spark.operators.distance import distance_matrix

    rng = np.random.default_rng(29)
    vecs = {i: rng.standard_normal(16).tolist() for i in range(5)}
    vecs[5] = [2.0 * v for v in vecs[0]]       # r = +1 -> dist 0
    vecs[6] = [-3.0 * v for v in vecs[1]]      # r = -1 -> dist 0 (|r|)
    vecs[7] = [4.0] * 16                       # zero variance -> dist 1
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id int, embedding array<double>"
    )
    m = distance_matrix(df, {"euc": euclidean, "pd": pearson_distance})
    got = {(r["id_a"], r["id_b"]): r for r in m.collect()}
    assert len(got) == 64  # full 8x8 incl. diagonal
    for i in range(8):
        assert got[(i, i)]["pd"] == 0.0 and got[(i, i)]["euc"] == 0.0
    assert abs(got[(0, 5)]["pd"]) < 1e-12
    assert abs(got[(1, 6)]["pd"]) < 1e-12   # reference takes |r|
    assert got[(0, 7)]["pd"] == 1.0         # zero-variance side
    # symmetry (mirrored lower triangle)
    for i in range(8):
        for j in range(8):
            assert got[(i, j)]["pd"] == got[(j, i)]["pd"]
            assert got[(i, j)]["euc"] == got[(j, i)]["euc"]


def test_spectral_peaks_operator(spark):
    """Local-max + parabolic refinement (spectral_peaks.go:36-156):
    strict local maxima only (plateaus excluded), edges excluded,
    parabolic offset matches the closed form."""
    from sonar_spark.operators.peaks import spectral_peaks

    spec = [
        # one frame: peak at bin 2 (1,5,2), plateau at 5-6 (4,4), edge
        # high at bin 0 must be excluded
        (0, 9.0), (1, 1.0), (2, 5.0), (3, 2.0),
        (4, 3.0), (5, 4.0), (6, 4.0), (7, 0.0),
    ]
    df = spark.createDataFrame(
        [(1, 0, b, m) for b, m in spec],
        "doc_id long, frame_idx long, bin long, m double",
    )
    out = spectral_peaks(df, max_peaks=5, min_height=0.0)
    rows = {r["bin"]: r for r in out.collect()}
    assert set(rows) == {2}  # plateau + edges excluded
    y1, y2, y3 = 1.0, 5.0, 2.0
    off = (y3 - y1) / (2 * (2 * y2 - y1 - y3))
    assert abs(rows[2]["refined_freq"] - (2 + off)) < 1e-12
    a, b = 0.5 * (y1 - 2 * y2 + y3), 0.5 * (y3 - y1)
    assert abs(rows[2]["refined_mag"] - (y2 + a * off * off + b * off)) < 1e-12


def test_quantile_histogram_bit_identical_to_percentile(spark, monkeypatch):
    """quantile_histogram == F.percentile bit-for-bit: same order
    statistics, same (hi-pos)*lo + (pos-lo)*hi interpolation — on
    groups with heavy duplicates, unique values, and n=1."""
    from pyspark.sql import functions as F

    from sonar_spark.operators.percentiles import quantile_histogram

    rng = np.random.default_rng(7)
    rows = []
    for g, n, dup in (("a", 501, True), ("b", 64, False), ("c", 1, False)):
        vals = rng.standard_normal(n) * 100
        if dup:  # quantize so the histogram actually collapses values
            vals = np.round(vals, 0)
        rows += [(g, float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = {"p10": 0.1, "p25": 0.25, "p50": 0.5, "p75": 0.75, "p99": 0.99}
    monkeypatch.setattr(percentiles, "_HIST_QS", qs)
    hist = df.groupBy(
        F.col("g").alias("l_returnflag"), F.col("v").alias("__v")
    ).agg(F.count("*").alias("__c"))
    got = {r["l_returnflag"]: r for r in quantile_histogram(hist).collect()}
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            *[F.percentile("v", q).alias(k) for k, q in qs.items()],
            F.count("*").alias("__n"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in got:
        assert got[g]["__n"] == want[g]["__n"]
        for k in qs:
            assert got[g][k] == want[g][k], (g, k, got[g][k], want[g][k])


def test_interpolation_family_matches_go(spark):
    """Catalyst interpolation expressions vs a scalar port of
    interpolation.go across methods, fractional indices, boundary
    branches, and short-array fallbacks."""
    import math

    from pyspark.sql import functions as F

    from sonar_spark.functions.interpolate import (
        downsample_signal,
        interpolate_at,
        resample_signal,
        upsample_signal,
    )

    def lin(d, x):
        n = len(d)
        if n == 0:
            return 0.0
        if x <= 0:
            return d[0]
        if x >= n - 1:
            return d[-1]
        i = int(x)
        if i >= n - 1:
            return d[-1]
        return d[i] + (x - i) * (d[i + 1] - d[i])

    def cub(d, x):
        n = len(d)
        if n < 4:
            return lin(d, x)
        if x <= 1:
            return d[int(max(0.0, x))]
        if x >= n - 2:
            return d[-1]
        i = min(max(int(x), 1), n - 3)
        f = x - int(x)
        y0, y1, y2, y3 = d[i - 1], d[i], d[i + 1], d[i + 2]
        a0 = -0.5 * y0 + 1.5 * y1 - 1.5 * y2 + 0.5 * y3
        a1 = y0 - 2.5 * y1 + 2 * y2 - 0.5 * y3
        a2 = -0.5 * y0 + 0.5 * y2
        return a0 * f ** 3 + a1 * f ** 2 + a2 * f + y1

    def herm(d, x):
        n = len(d)
        if n < 4:
            return lin(d, x)
        if x <= 1:
            return d[int(max(0.0, x))]
        if x >= n - 2:
            return d[-1]
        i = min(max(int(x), 1), n - 3)
        t = x - int(x)
        y0, y1, y2, y3 = d[i - 1], d[i], d[i + 1], d[i + 2]
        m0, m1 = 0.5 * (y2 - y0), 0.5 * (y3 - y1)
        t2, t3 = t * t, t ** 3
        return ((2 * t3 - 3 * t2 + 1) * y1 + (t3 - 2 * t2 + t) * m0
                + (-2 * t3 + 3 * t2) * y2 + (t3 - t2) * m1)

    def lanc(d, x):
        n = len(d)
        if n < 6:
            return cub(d, x)
        a = 3.0
        i = int(x)
        if i < 3:
            return d[0]
        if i >= n - 3:
            return d[-1]
        s = 0.0
        for j in range(i - 2, i + 4):
            xx = x - j
            if abs(xx) < 1e-10:
                w = 1.0
            elif abs(xx) >= a:
                w = 0.0
            else:
                px = math.pi * xx
                w = (a * math.sin(px) * math.sin(px / a)) / (px * px)
            s += d[j] * w
        return s

    ref = {"linear": lin, "cubic": cub, "hermite": herm,
           "lanczos": lanc}
    import numpy as np

    rng = np.random.default_rng(31)
    series = [
        [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0],
        [2.0, 7.0, 1.0],          # short: cubic/hermite -> linear
        [1.0, 2.0, 3.0, 4.0, 5.0],  # lanczos -> cubic fallback
    ] + [
        # fuzz: random lengths incl. every fallback regime
        [float(v) for v in rng.standard_normal(int(ln)) * 10]
        for ln in rng.integers(1, 40, size=6)
    ]
    idxs = [0.0, 0.5, 1.0, 2.5, 3.75, 5.25, 8.9, 9.0, 11.0, -1.0] + [
        float(x) for x in rng.uniform(-2, 45, size=8)
    ]
    rows = [(si, s) for si, s in enumerate(series)]
    df = spark.createDataFrame(rows, "sid long, s array<double>")
    sel = [F.col("sid")]
    expect = {}
    for m in ref:
        for xi, x in enumerate(idxs):
            sel.append(
                interpolate_at(F.col("s"), F.lit(x), m).alias(
                    f"{m}_{xi}"
                )
            )
    got = {r["sid"]: r for r in df.select(*sel).collect()}
    for si, s in enumerate(series):
        for m, fn in ref.items():
            for xi, x in enumerate(idxs):
                g = got[si][f"{m}_{xi}"]
                w = fn(s, x)
                assert abs(g - w) < 1e-12, (si, m, x, g, w)

    # signal-level ops vs go loops
    d = series[0]
    out = df.where(F.col("sid") == 0).select(
        resample_signal(F.col("s")).alias("rs"),
        upsample_signal(F.col("s")).alias("up"),
        downsample_signal(F.col("s")).alias("dn"),
    ).collect()[0]
    ratio = 4.0 / 3.0
    want_rs = [lin(d, i * ratio) for i in range(int(len(d) / ratio))]
    assert len(out["rs"]) == len(want_rs)
    for g, w in zip(out["rs"], want_rs):
        assert abs(g - w) < 1e-12
    # upsample: go port with the as-written zero-stuff fill
    up = [0.0] * (len(d) * 2)
    for i, v in enumerate(d):
        up[i * 2] = v
    for i in range(1, len(up)):
        if up[i] == 0.0:
            prev = (i // 2) * 2
            nxt = prev + 2
            if nxt < len(up):
                up[i] = up[prev] + ((i - prev) / 2.0) * (
                    up[nxt] - up[prev]
                )
    assert [round(x, 12) for x in out["up"]] == [
        round(x, 12) for x in up
    ]
    assert out["dn"] == [d[i * 2] for i in range(len(d) // 2)]
