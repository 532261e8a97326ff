"""Sketch property tests (functions/sketch.py): HLL register replay +
accuracy on a high-cardinality corpus (raw-estimate branch), CMS
overestimate guarantee + exactness for unique-bucket terms."""

from __future__ import annotations

import hashlib
import math
import random

from pyspark.sql import functions as F

from sonar_spark.functions.sketch import (
    CMS_D,
    CMS_W,
    HLL_M,
    RHO_CAP,
    cms_heavy_hitters,
    hll_distinct,
)


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _hll_estimate(terms: set) -> float:
    regs: dict = {}
    for t in terms:
        h = _md5_60(t)
        j, w = h & (HLL_M - 1), h >> 8
        if w == 0:
            rho = RHO_CAP
        else:
            rho = min((w & -w).bit_length(), RHO_CAP)
        regs[j] = max(regs.get(j, 0), rho)
    s = sum(2.0 ** -r for r in regs.values()) + (HLL_M - len(regs))
    v = HLL_M - len(regs)
    alpha_m2 = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M
    e = alpha_m2 / s
    if e <= 2.5 * HLL_M and v > 0:
        e = float(HLL_M) * math.log(float(HLL_M) / v)
    return round(e, 6)


def test_hll_matches_python_replay_and_is_accurate(spark):
    rng = random.Random(3)
    rows = []
    # gA: high cardinality (raw branch, V == 0 plausible);
    # gB: tiny vocab (small-range correction branch)
    vocab_a = [f"w{i}" for i in range(4000)]
    for _ in range(800):
        rows.append(("gA", [rng.choice(vocab_a) for _ in range(12)]))
    for _ in range(50):
        rows.append(("gB", [rng.choice(["x", "y", "z"]) for _ in range(6)]))
    df = spark.createDataFrame(rows, "source string, words array<string>")
    got = {r["source"]: r for r in hll_distinct(df).collect()}
    for g in ("gA", "gB"):
        terms = {w for s, ws in rows if s == g for w in ws}
        est = _hll_estimate(terms)
        r = got[g]
        assert r["exact_distinct"] == len(terms)
        assert abs(r["hll_estimate"] - est) < 1e-9
        assert r["rel_err"] == round(
            (est - len(terms)) / len(terms), 6
        )
        # HLL theoretical std err = 1.04/sqrt(m) ~ 6.5%; allow 4 sigma
        assert abs(r["rel_err"]) < 4 * 1.04 / math.sqrt(HLL_M)
    # both correction branches actually exercised
    terms_a = {w for s, ws in rows if s == "gA" for w in ws}
    regs_a = {_md5_60(t) & (HLL_M - 1) for t in terms_a}
    assert len(regs_a) == HLL_M  # raw branch (V == 0)
    assert len({w for s, ws in rows if s == "gB" for w in ws}) == 3


def test_cms_overestimates_and_replays(spark):
    rng = random.Random(9)
    rows = []
    vocab = [f"t{i}" for i in range(300)]
    for _ in range(400):
        rows.append(([rng.choice(vocab) for _ in range(rng.randint(1, 15))],))
    df = spark.createDataFrame(rows, "words array<string>")
    got = cms_heavy_hitters(df).collect()
    assert len(got) == 10
    # exact counts + python sketch replay
    from collections import Counter

    cnt = Counter(w for (ws,) in rows for w in ws)
    sketch = [[0] * CMS_W for _ in range(CMS_D)]
    for w, c in cnt.items():
        for i in range(CMS_D):
            sketch[i][_md5_60(f"{w}#{i}") % CMS_W] += c
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    for rank, (w, c) in enumerate(top, start=1):
        r = next(x for x in got if x["t"] == w)
        assert r["rank"] == rank
        assert r["exact"] == c
        est = min(
            sketch[i][_md5_60(f"{w}#{i}") % CMS_W] for i in range(CMS_D)
        )
        assert r["cms_estimate"] == est
        assert r["cms_estimate"] >= c  # the CMS guarantee
        assert r["over_frac"] >= 0.0


def test_bloom_zero_false_negatives_and_replays(spark):
    from sonar_spark.functions.sketch import (
        BLOOM_K,
        BLOOM_M,
        bloom_decontaminate,
    )

    rng = random.Random(21)
    vocab = [f"s{i}" for i in range(500)]
    ev_rows = [(rng.choice(vocab) + " " + rng.choice(vocab),) for _ in range(150)]
    tr_rows = []
    for d in range(40):
        for _ in range(rng.randint(1, 12)):
            if rng.random() < 0.3:
                tr_rows.append((d, rng.choice(ev_rows)[0]))  # planted hit
            else:
                tr_rows.append(
                    (d, rng.choice(vocab) + " " + rng.choice(vocab))
                )
    ev = spark.createDataFrame(ev_rows, "sh string")
    tr = spark.createDataFrame(tr_rows, "doc_id long, sh string")
    got = {r["doc_id"]: r for r in bloom_decontaminate(tr, ev).collect()}

    ev_set = {s for (s,) in ev_rows}
    bits = {
        _md5_60(f"{s}#b{i}") % BLOOM_M
        for s in ev_set
        for i in range(BLOOM_K)
    }
    per_doc: dict = {}
    for d, s in set(tr_rows):
        n, mb, tu = per_doc.get(d, (0, 0, 0))
        is_maybe = all(
            _md5_60(f"{s}#b{i}") % BLOOM_M in bits for i in range(BLOOM_K)
        )
        per_doc[d] = (n + 1, mb + int(is_maybe), tu + int(s in ev_set))
    for d, (n, mb, tu) in per_doc.items():
        r = got[d]
        assert r["n_shingles"] == n
        assert r["n_maybe"] == mb
        assert r["n_true"] == tu
        assert r["n_maybe"] >= r["n_true"]  # zero false negatives
        assert r["contaminated_exact"] == (tu > 0)
        assert r["contaminated_bloom"] == (mb > 0)
    # planted hits guarantee both branches live
    assert any(r["n_true"] > 0 for r in got.values())
    assert any(r["n_true"] == 0 for r in got.values())


def test_jl_projection_preserves_distances(spark):
    import numpy as np

    from sonar_spark.functions.projection import (
        jl_distance_report,
        jl_matrix,
        jl_project,
    )

    rng = np.random.RandomState(8)
    vecs = rng.randn(60, 64)
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # projection replays the micro-unit python oracle exactly
    # (half-up away-from-zero, the F.round emulation — python round()
    # is half-even and flips 9dp/6dp ties)
    import math as _m

    def half_up(x, d):
        s = 10.0 ** d
        return (
            _m.floor(x * s + 0.5) / s
            if x >= 0
            else _m.ceil(x * s - 0.5) / s
        )

    mat = {(k, j): r for k, j, r in jl_matrix()}
    got_p = {
        (r["vec_id"], r["j"]): r["p"] for r in jl_project(df).collect()
    }
    for i in (0, 7, 59):
        for j in range(16):
            mu = sum(
                int(half_up(half_up(float(vecs[i][k]) * mat[(k, j)], 9) * 1e9, 0))
                for k in range(64)
            )
            assert abs(got_p[(i, j)] - half_up(mu / 1e9 + 1e-12, 6)) < 1e-12

    rep = jl_distance_report(df).collect()
    assert len(rep) == 30
    ratios = [r["ratio"] for r in rep]
    for r in rep:
        assert r["d2_orig"] > 0 and r["d2_proj"] > 0
    # JL with out_dim 16: sd(ratio) ~ sqrt(2/16) = 0.35; bounds at
    # ~4 sigma, mean near 1
    assert all(0.05 < x < 2.6 for x in ratios)
    assert 0.75 < sum(ratios) / len(ratios) < 1.25


def test_int8_quantize_replays_and_bounds_error(spark):
    import numpy as np

    from sonar_spark.functions.projection import int8_quantize_report

    rng = np.random.RandomState(4)
    vecs = rng.randn(25, 64) * rng.uniform(0.5, 3.0, size=(25, 1))
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(25)]
    rows.append((999, [1.5] * 64))  # zero-range branch
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in int8_quantize_report(df).collect()}

    def half_up(x, d):
        s = 10.0 ** d
        return (
            math.floor(x * s + 0.5) / s
            if x >= 0
            else math.ceil(x * s - 0.5) / s
        )

    for i, v in rows:
        v = np.asarray(v)
        mn, mx = float(v.min()), float(v.max())
        sc = (mx - mn) / 255.0
        if sc > 0:
            q = np.clip(
                [int(half_up((x - mn) / sc + 1e-12, 0)) for x in v], 0, 255
            )
        else:
            q = np.zeros(64, dtype=int)
        err = sum(
            int(half_up(half_up((x - (mn + int(c) * sc)) ** 2, 9) * 1e9, 0))
            for x, c in zip(v, q)
        )
        r = got[i]
        assert r["code_sum"] == int(q.sum())
        assert abs(r["vmin"] - half_up(mn + 1e-12, 6)) < 1e-12
        assert abs(r["rmse"] - half_up(math.sqrt(err / 1e9 / 64) + 1e-12, 6)) < 1e-12
        # 8-bit quantization error bound: rmse <= scale/2 (uniform)
        assert r["rmse"] <= sc / 2 + 1e-9
    assert got[999]["code_sum"] == 0 and got[999]["rmse"] == 0.0


def test_sketch_shard_merge_properties(spark):
    """The reason sketches exist at 100 TB: shard sketches must merge
    into exactly the whole-corpus sketch (HLL registers by max, CMS
    buckets by sum) without touching raw data again."""
    rng = random.Random(17)
    vocab = [f"m{i}" for i in range(800)]
    shard_a = [("g", [rng.choice(vocab) for _ in range(10)]) for _ in range(120)]
    shard_b = [("g", [rng.choice(vocab) for _ in range(10)]) for _ in range(120)]

    # HLL: registers(union) == max(registers(a), registers(b))
    def registers(rows):
        regs: dict = {}
        for _, ws in rows:
            for t in set(ws):
                h = _md5_60(t)
                j, w = h & (HLL_M - 1), h >> 8
                rho = RHO_CAP if w == 0 else min((w & -w).bit_length(), RHO_CAP)
                regs[j] = max(regs.get(j, 0), rho)
        return regs

    ra, rb = registers(shard_a), registers(shard_b)
    ru = registers(shard_a + shard_b)
    merged = {
        j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)
    }
    assert merged == ru

    # and the engine's estimate over the union equals the estimate
    # computed from the merged registers
    df = spark.createDataFrame(
        shard_a + shard_b, "source string, words array<string>"
    )
    got = hll_distinct(df).collect()[0]
    assert abs(
        got["hll_estimate"]
        - _hll_estimate({w for _, ws in shard_a + shard_b for w in ws})
    ) < 1e-9

    # CMS: bucket(union) == bucket(a) + bucket(b), for every bucket
    from collections import Counter

    def buckets(rows):
        b = Counter()
        for (ws,) in rows:
            for t in ws:
                for i in range(CMS_D):
                    b[(i, _md5_60(f"{t}#{i}") % CMS_W)] += 1
        return b

    sa = [(ws,) for _, ws in shard_a]
    sb = [(ws,) for _, ws in shard_b]
    assert buckets(sa) + buckets(sb) == buckets(sa + sb)
