"""Property tests for the round-5 session additions: backfill_grid
(grid gap-fill vs brute force), directional/nearest as-of, the E-S
weighted sampler law, and the DDSketch guarantee + merge law."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.functions.ddsketch import (
    bucket_idx,
    bucket_lo,
    ddsketch_quantiles,
)
from sonar_spark.functions.sampling import weighted_sample
from sonar_spark.operators.asof import _asof_union
from sonar_spark.operators import backfill
from sonar_spark.operators.backfill import backfill_grid


def asof_join_directional(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    payload: tuple[str, ...] = ("ref_features",),
    direction: str = "backward",
) -> DataFrame:
    """As-of join with a direction: "backward" (latest right at or
    before, the default asof_join), or "forward" (earliest right at
    or after — the label-window / next-touchpoint lookup).

    Forward is the backward join on NEGATED timestamps — one sign
    flip reuses the whole tested union strategy (same plans, same
    inclusive-at-equal-ts and highest-version-wins tie rules) — so
    the forward output column is matched_fwd_ts.
    """
    if direction == "backward":
        return _asof_union(left, right, key, left_ts, payload)
    if direction != "forward":
        raise ValueError(f"unknown direction {direction!r}")
    nl = left.withColumn("__nts", -F.col(left_ts).cast("long"))
    nr = right.withColumn("ref_ts", -F.col("ref_ts").cast("long"))
    res = _asof_union(nl, nr, key, "__nts", payload)
    return res.select(
        *[c for c in left.columns],
        (-F.col("matched_ref_ts")).cast("long").alias("matched_fwd_ts"),
        *payload,
        "ref_version",
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    left_id: str = "event_id",
    payload: tuple[str, ...] = ("ref_features",),
) -> DataFrame:
    """Nearest-as-of: both directional passes joined back on the
    unique left id, then a per-row pick by absolute gap; ties
    (equal gap both sides) resolve BACKWARD — the zero-temporal-
    leakage-preferring rule, documented rather than inherited.

    Output: all left columns, both matched timestamps and payloads,
    plus matched_near_ts / near_src ('b'/'f', null when no match on
    either side) / near_gap_s and the picked payload columns
    (<payload>_near).
    """
    b = asof_join_directional(
        left, right, key=key, left_ts=left_ts, payload=payload,
        direction="backward",
    )
    fwd_ren = {c: f"{c}_fwd" for c in payload}
    f = asof_join_directional(
        left, right, key=key, left_ts=left_ts, payload=payload,
        direction="forward",
    ).select(
        left_id,
        "matched_fwd_ts",
        *[F.col(c).alias(fwd_ren[c]) for c in payload],
    )
    j = b.join(f, left_id)
    bgap = F.col(left_ts).cast("long") - F.col("matched_ref_ts")
    fgap = F.col("matched_fwd_ts") - F.col(left_ts).cast("long")
    take_b = F.col("matched_ref_ts").isNotNull() & (
        F.col("matched_fwd_ts").isNull() | (bgap <= fgap)
    )
    take_f = F.col("matched_fwd_ts").isNotNull() & ~take_b
    return j.select(
        *left.columns,
        "matched_ref_ts",
        *payload,
        "matched_fwd_ts",
        *[fwd_ren[c] for c in payload],
        F.when(take_b, F.col("matched_ref_ts"))
        .when(take_f, F.col("matched_fwd_ts"))
        .cast("long")
        .alias("matched_near_ts"),
        F.when(take_b, F.lit("b")).when(take_f, F.lit("f")).alias("near_src"),
        F.when(take_b, bgap).when(take_f, fgap).cast("long").alias("near_gap_s"),
        *[
            F.when(take_b, F.col(c)).when(take_f, F.col(fwd_ren[c])).alias(
                f"{c}_near"
            )
            for c in payload
        ],
    )


# ---------------------------------------------------------------- backfill
def _events_df(spark, n_entities=5, n=120, span=40000, seed=11):
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    for e in range(n_entities):
        ts = rng.integers(0, span, size=n // n_entities)
        # force duplicate-second collisions for the tie-break path
        ts[1] = ts[0]
        for t in ts:
            rows.append((eid, int(t), float(np.round(rng.random() * 100, 2)), e))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, tsec long, value double, user_id long"
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "value",
        "user_id",
    )


def test_backfill_grid_vs_bruteforce(spark, monkeypatch):
    # a step the generated timelines span many times (the queries use
    # 21600 s)
    step = 4096
    monkeypatch.setattr(backfill, "_STEP", step)
    ev = _events_df(spark)
    got = {
        (r["user_id"], r["grid_ts"]): r
        for r in backfill_grid(ev).collect()
    }
    obs = [
        (r["user_id"], r["tsec"], r["value"], r["event_id"])
        for r in _events_df(spark)
        .select("user_id", F.unix_timestamp("ts").alias("tsec"), "value", "event_id")
        .collect()
    ]
    by_e: dict = {}
    for e, t, v, i in obs:
        by_e.setdefault(e, []).append((t, v, i))
    n_rows = 0
    for e, pts in by_e.items():
        t0 = min(t for t, _, _ in pts)
        t1 = max(t for t, _, _ in pts)
        g1 = t1 if t1 % step == 0 else t1 - t1 % step + step
        for g in range((t0 // step) * step, g1 + 1, step):
            n_rows += 1
            r = got[(e, g)]
            past = [(t, i, v) for t, v, i in pts if t <= g]
            futr = [(t, -i, v) for t, v, i in pts if t >= g]
            if past:
                t, i, v = max(past)  # latest ts, then highest event_id
                assert r["ffill_value"] == round(v, 6)
                assert r["ffill_age_s"] == g - t
            else:
                assert r["ffill_value"] is None and r["ffill_age_s"] is None
            if futr:
                t, ni, v = min(futr)  # earliest ts, then highest event_id
                assert r["bfill_value"] == round(v, 6)
                assert r["bfill_lead_s"] == t - g
            else:
                assert r["bfill_value"] is None and r["bfill_lead_s"] is None
            assert r["n_obs"] == sum(1 for t, _, _ in pts if g - step < t <= g)
    assert n_rows == len(got)
    # conservation: every observation lands in exactly one grid cell
    per_e = {}
    for (e, _), r in got.items():
        per_e[e] = per_e.get(e, 0) + r["n_obs"]
    assert per_e == {e: len(pts) for e, pts in by_e.items()}


# ---------------------------------------------------------- as-of directions
def _ts_tables(spark, seed=7):
    rng = np.random.default_rng(seed)
    left = spark.createDataFrame(
        [
            (i, f"e{i % 4}", int(rng.integers(0, 1000)))
            for i in range(60)
        ],
        "event_id long, entity string, ts long",
    )
    right = spark.createDataFrame(
        [
            (f"e{i % 4}", int(rng.integers(0, 1000)), i, float(i) / 8)
            for i in range(40)
        ],
        "entity string, ref_ts long, ref_version long, ref_features double",
    )
    return left, right


def test_asof_forward_vs_bruteforce(spark):
    left, right = _ts_tables(spark)
    got = asof_join_directional(
        left, right, direction="forward"
    ).collect()
    rrows = right.collect()
    assert len(got) == 60
    for g in got:
        fut = [
            (r["ref_ts"], r["ref_version"], r["ref_features"])
            for r in rrows
            if r["entity"] == g["entity"] and r["ref_ts"] >= g["ts"]
        ]
        if not fut:
            assert g["matched_fwd_ts"] is None
        else:
            t, ver, feat = min(fut)
            # among equal ref_ts the highest version wins
            ver, feat = max(
                (r[1], r[2]) for r in fut if r[0] == t
            )
            assert g["matched_fwd_ts"] == t
            assert g["ref_version"] == ver
            assert g["ref_features"] == feat
            assert g["matched_fwd_ts"] >= g["ts"]


def test_asof_nearest_pick_rule(spark):
    left, right = _ts_tables(spark, seed=13)
    got = asof_join_nearest(left, right, left_id="event_id").collect()
    for g in got:
        b, f, t = g["matched_ref_ts"], g["matched_fwd_ts"], g["ts"]
        if b is None and f is None:
            assert g["matched_near_ts"] is None and g["near_src"] is None
        elif f is None or (b is not None and t - b <= f - t):
            assert g["near_src"] == "b" and g["matched_near_ts"] == b
            assert g["near_gap_s"] == t - b
            assert g["ref_features_near"] == g["ref_features"]
        else:
            assert g["near_src"] == "f" and g["matched_near_ts"] == f
            assert g["near_gap_s"] == f - t
            assert g["ref_features_near"] == g["ref_features_fwd"]


# ------------------------------------------------------------ weighted sample
def test_weighted_sample_python_replay(spark):
    # the Spark ranking must equal the exact-integer python replay of
    # the max-of-w-uniforms key (weights 1, 2, 4, 8 tokens)
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (2**i)), "s") for i in range(4)],
        "doc_id long, text string, source string",
    )
    rows = weighted_sample(docs).collect()

    def key(doc_id, w, salt):
        return max(
            int(
                hashlib.md5(f"{salt}:{doc_id}:{pos}".encode()).hexdigest()[
                    :15
                ],
                16,
            )
            for pos in range(w)
        )

    ks = {i: key(i, 2**i, "es1") for i in range(4)}
    want = sorted(range(4), key=lambda i: (-ks[i], i))
    assert [r["doc_id"] for r in sorted(rows, key=lambda r: r["rank"])] == want
    for r in rows:
        assert r["es_key"] == ks[r["doc_id"]]
        assert r["weight"] == 2 ** r["doc_id"]


def test_weighted_sample_distribution_and_edges(spark):
    # empirical inclusion frequency via varying salts (python replay
    # is exact, so run the law check in pure python for speed)
    rng_weights = {0: 1, 1: 2, 2: 4, 3: 8}
    wins = {i: 0 for i in rng_weights}
    n_trials = 400
    for s in range(n_trials):
        ks = {}
        for i, w in rng_weights.items():
            best = -1
            for pos in range(w):
                h = hashlib.md5(f"s{s}:{i}:{pos}".encode()).hexdigest()
                best = max(best, int(h[:15], 16))
            ks[i] = best
        wins[max(ks, key=lambda i: (ks[i], -i))] += 1
    tot = sum(rng_weights.values())
    for i, w in rng_weights.items():
        p = w / tot
        sd = (p * (1 - p) / n_trials) ** 0.5
        assert abs(wins[i] / n_trials - p) < 5 * sd + 1e-9, (i, wins)
    # zero-token docs can never be sampled
    docs = spark.createDataFrame(
        [(1, "", "s"), (2, "   ", "s"), (3, "a b", "s")],
        "doc_id long, text string, source string",
    )
    rows = weighted_sample(docs).collect()
    assert [r["doc_id"] for r in rows] == [3]
    assert rows[0]["weight"] == 2


def test_weighted_sample_partition_invariance(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + i % 7)), f"src{i % 3}")
         for i in range(60)],
        "doc_id long, text string, source string",
    )
    a = sorted(map(tuple, weighted_sample(docs).collect()))
    b = sorted(map(tuple, weighted_sample(docs.repartition(13)).collect()))
    assert a == b
    assert all(len([r for r in a if r[0] == s]) == 5 for s in
               {"src0", "src1", "src2"})


# ------------------------------------------------------------------ ddsketch
def test_ddsketch_bucket_bounds_contain_value(spark):
    rng = np.random.default_rng(3)
    vals = sorted(
        {int(v) for v in rng.integers(1, 10**9, size=300)}
        | {1, 2, 3, 7, 8, 9, 15, 16, 17, 2**20 - 1, 2**20, 2**20 + 1, 0}
        # the float-quotient failure region (exactness must hold for
        # every int64: shifts, never division)
        | {2**53 - 1, 2**53, 2**53 + 1, 2**54 - 1, 2**57 - 8,
           2**60 + 12345, 2**62 - 1, 2**62, (1 << 63) - 1}
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        bucket_idx(F.col("v")).alias("idx"),
    )
    df = df.select(
        "v",
        "idx",
        bucket_lo(F.col("idx")).alias("lo"),
        bucket_lo(F.col("idx") + 1).alias("up"),
    )
    rows = df.collect()
    prev_idx = None
    for r in sorted(rows, key=lambda r: r["v"]):
        if r["v"] == 0:
            assert r["idx"] == -1
            continue
        assert r["lo"] <= r["v"] < r["up"], r
        # gamma guarantee: up/lo <= 9/8
        assert r["up"] / r["lo"] <= 9 / 8 + 1e-12
        if prev_idx is not None:
            assert r["idx"] >= prev_idx  # monotone in v
        prev_idx = r["idx"]


def test_ddsketch_quantile_guarantee_and_merge(spark):
    rng = np.random.default_rng(5)
    vals = np.concatenate(
        [
            rng.integers(1, 100, 400),
            rng.integers(100, 10**6, 400),
            np.zeros(7, dtype=int),
        ]
    )
    rows = [
        (int(i), "g" + str(int(i % 2)), int(v)) for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, cents long"
    )
    out = ddsketch_quantiles(ev).collect()
    assert len(out) == 6
    for r in out:
        assert r["merge_ok"] is True
        # exact order statistic vs python
        grp = sorted(v for i, g, v in rows if g == r["event_type"])
        rank = max(1, int(np.ceil(r["q"] * len(grp))))
        assert r["n"] == len(grp)
        assert r["exact_v"] == grp[rank - 1]
        if r["exact_v"] > 0:
            # midpoint guarantee: relative error <= 1/16
            assert abs(r["est"] - r["exact_v"]) / r["exact_v"] <= 1 / 16 + 1e-6
            assert r["bucket_lo"] <= r["exact_v"] < r["bucket_up"]
        else:
            assert r["est"] == 0.0 and r["rel_err"] == 0.0


def test_grid_features_vs_bruteforce(spark, monkeypatch):
    from sonar_spark.operators.backfill import grid_features

    monkeypatch.setattr(backfill, "_STEP", 4096)
    ev = _events_df(spark, seed=23)
    bf = backfill_grid(ev)
    got = {
        (r["user_id"], r["grid_ts"]): r
        for r in grid_features(bf).collect()
    }
    base = {
        (r["user_id"], r["grid_ts"]): r["ffill_value"]
        for r in bf.collect()
    }
    # python replay per (entity, grid_ts): last 8 grid slots
    by_e: dict = {}
    for (e, g), v in sorted(base.items()):
        by_e.setdefault(e, []).append((g, v))
    assert len(got) == len(base)
    for e, series in by_e.items():
        for i, (g, _) in enumerate(series):
            r = got[(e, g)]
            lag_vals = [
                series[i - k][1] if i - k >= 0 else None
                for k in range(8)
            ]
            cents = [
                int(np.floor(v * 100 + 0.5)) if v is not None else None
                for v in lag_vals
            ]
            nn = [c for c in cents if c is not None]
            assert r["n_win"] == len(nn)
            if not nn:
                assert r["ewma"] is None and r["roll_mean"] is None
                continue
            num = sum(
                c * 2.0**-k
                for k, c in enumerate(cents)
                if c is not None
            )
            den = sum(
                2.0**-k for k, c in enumerate(cents) if c is not None
            )
            assert r["ewma"] == round(num / den / 100.0, 6)
            assert r["roll_mean"] == round(sum(nn) / len(nn) / 100.0, 6)
            if len(nn) > 1:
                m = sum(nn) / len(nn)
                var = (
                    sum(c * c for c in nn) - m * m * len(nn)
                ) / (len(nn) - 1)
                want_std = round(max(var, 0.0) ** 0.5 / 100.0, 6)
                assert abs(r["roll_std"] - want_std) < 2e-6
            else:
                assert r["roll_std"] == 0.0


def _query_columns(left, right):
    """The _ts_tables sides under the column names the nearest and
    tolerance as-of joins read (user_id, ts_sec, ref_value)."""
    return (
        left.withColumnRenamed("entity", "user_id").withColumnRenamed(
            "ts", "ts_sec"
        ),
        right.withColumnRenamed("entity", "user_id").withColumnRenamed(
            "ref_features", "ref_value"
        ),
    )


def test_asof_nearest_fused_equals_composed(spark):
    from sonar_spark.operators.asof import asof_join_nearest_fused

    for seed in (7, 13, 29):
        left, right = _ts_tables(spark, seed=seed)
        a = sorted(
            map(
                tuple,
                asof_join_nearest(left, right, left_id="event_id")
                .select(
                    "event_id", "matched_ref_ts", "ref_features",
                    "matched_fwd_ts", "ref_features_fwd",
                    "matched_near_ts", "near_src", "near_gap_s",
                    "ref_features_near",
                )
                .collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                asof_join_nearest_fused(*_query_columns(left, right))
                .select(
                    "event_id", "matched_ref_ts", "ref_value",
                    "matched_fwd_ts", "ref_value_fwd",
                    "matched_near_ts", "near_src", "near_gap_s",
                    "ref_value_near",
                )
                .collect(),
            )
        )
        assert a == b, seed


def test_asof_tolerance_rule(spark, monkeypatch):
    from sonar_spark.operators import asof
    from sonar_spark.operators.asof import (
        asof_join,
        asof_join_tolerance,
    )

    left, right = _ts_tables(spark, seed=19)
    # a window the seed-19 timelines straddle (the queries use 3600 s)
    tol = 150
    monkeypatch.setattr(asof, "_TOLERANCE", tol)
    base = {
        r["event_id"]: r
        for r in asof_join(
            left, right, key="entity", left_ts="ts",
            payload=("ref_features",), strategy="union",
        ).collect()
    }
    got = [
        g.asDict()
        for g in asof_join_tolerance(*_query_columns(left, right))
        .withColumnRenamed("ts_sec", "ts")
        .withColumnRenamed("ref_value", "ref_features")
        .collect()
    ]
    assert len(got) == len(base)
    for g in got:
        b = base[g["event_id"]]
        if b["matched_ref_ts"] is None:
            assert g["matched_ref_ts"] is None
            assert g["within_tol"] is None
        elif b["ts"] - b["matched_ref_ts"] <= tol:
            assert g["matched_ref_ts"] == b["matched_ref_ts"]
            assert g["ref_features"] == b["ref_features"]
            assert g["within_tol"] is True
        else:
            assert g["matched_ref_ts"] is None
            assert g["ref_features"] is None
            assert g["within_tol"] is False


def test_epoch_expand_budget_law(spark, sf_dir):
    """The integer copy rule's expected per-source copy-token mass is
    exactly the allocation: sum over docs of n_copies*... per-doc
    copies = floor(A/M) + [h mod M < A mod M]; verify the python
    replay and the realized-mass band."""
    import hashlib

    import __spark_entry__ as E

    rows = E.queries()["epoch_expand"](spark, sf_dir).collect()
    assert rows
    by_doc = {}
    src_tokens: dict = {}
    for r in rows:
        by_doc[r["doc_id"]] = r
        src_tokens.setdefault(r["source"], 0)
    # python replay of the copy rule from the mix table
    from pyspark.sql import functions as F

    from sonar_spark.functions.corpus import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("words"),
    )
    mix = {
        r["source"]: (r["tokens"], r["alloc_tokens"])
        for r in temperature_mix(
            words.select("source", "words"),
        ).collect()
    }
    copy_tok = {}
    for r in rows:
        if r["copy_idx"] != 1:
            continue
        M, A = mix[r["source"]]
        h = int(
            hashlib.md5(f"ep1:{r['doc_id']}".encode()).hexdigest()[:15],
            16,
        ) % M
        want = A // M + (1 if h < A % M else 0)
        assert r["n_copies"] == want
        copy_tok[r["source"]] = (
            copy_tok.get(r["source"], 0) + want * r["n_tok"]
        )
    # realized copy-token mass within 25% of the allocation (the
    # rule is exact in expectation; per-corpus draw varies)
    for src, (M, A) in mix.items():
        assert abs(copy_tok[src] - A) / A < 0.25, (src, copy_tok[src], A)
