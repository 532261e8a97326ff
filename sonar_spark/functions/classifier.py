"""Model-based quality filtering — the FineWeb-Edu / DCLM-style
step a modern training-data pipeline runs after heuristics: train a
tiny linear classifier on a LABELED SUBSET of documents, then score
the whole corpus in one distributed scan and filter on the
probability.  Here the labels imitate a strict quality bar
(quality_score >= 0.73 — the heuristic teacher, exactly the role the
fastText teacher plays in DCLM), the labeled subset is the
deterministic doc_id % 3 == 0 sample (standing in for the small
human/LLM-annotated set a real pipeline has), and the holdout split
reports generalization (~95% agreement measured at sf0.001/0.01/0.1).

Scale shape: feature extraction and scoring are pure Catalyst
expressions riding one corpus scan each; only the LABELED features
(4 doubles + a label per labeled doc) are collected for training —
the labeled set is small by nature (annotation-bounded), never the
corpus.  Training is full-batch gradient descent with a FIXED step
count, so the whole fit is replayable.

Determinism / oracle contract (the PCA precedent, one step further —
this model has a nonlinearity):

* The logistic is replaced by the RATIONAL surrogate
  sigma~(z) = 0.5 + z / (2 * (1 + |z|)) — pure +,*,/,abs, so it is
  bit-identical in every engine (no libm exp anywhere).  sigma~ is
  monotone with sigma~(0) = 0.5, so pred = (z >= 0) exactly.
* Per-doc gradient terms are 9dp integer micro-units (floor/ceil
  half-up emulation — order/partitioning-free exact sums); weights
  and standardizers are re-quantized to the 9dp grid after every
  update; every float reduction is either an exact integer sum or a
  pinned left-associated 5-term chain.
* The DuckDB oracle replays everything: features, train-subset
  standardizers, the 30 unrolled GD steps (MATERIALIZED CTEs), and
  the scoring scan — weights land bit-identical by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pca import _mic_sql, _q9, _q9_sql

LR = 0.5
GD_STEPS = 30
LABEL_THRESH = 0.73
TRAIN_MOD = 3
N_FEATS = 4  # + bias


def _micro(x: float) -> int:
    return (
        math.floor(x * 1e9 + 0.5)
        if x >= 0
        else math.ceil(x * 1e9 - 0.5)
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc features + teacher label, all exactly replayable:
    x1 alpha ratio, x2 avg chars/token, x3 distinct-token ratio,
    x4 capped length; y = quality_score (6dp) >= LABEL_THRESH."""
    from sonar_spark.functions.text import quality_score

    text = F.col("text")
    words = F.split(F.trim(text), r"\s+")
    ntok = F.greatest(F.size(words), F.lit(1))
    x1 = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast(
        "double"
    ) / F.greatest(F.length(text), F.lit(1))
    x2 = F.length(text).cast("double") / ntok
    x3 = F.size(F.array_distinct(words)).cast("double") / ntok
    x4 = F.least(F.size(words), F.lit(100)).cast("double") / 100.0
    y = (
        F.round(quality_score(text), 6) >= F.lit(LABEL_THRESH)
    ).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        x1.alias("x1"),
        x2.alias("x2"),
        x3.alias("x3"),
        x4.alias("x4"),
        y.alias("y"),
    )


def train_quality_lr(
    feats: DataFrame,
) -> tuple[list[float], list[float], list[float]]:
    """Collect the labeled subset (annotation-bounded by design) and
    run GD_STEPS full-batch steps with exact micro-unit gradient sums
    and 9dp-grid weights.  Returns (mus, sds, w) — w has the bias in
    slot 0."""
    rows = (
        feats.where(F.col("doc_id") % TRAIN_MOD == 0)
        .select("x1", "x2", "x3", "x4", "y")
        .collect()
    )
    n = float(len(rows))
    X = [[r.x1, r.x2, r.x3, r.x4] for r in rows]
    Y = [float(r.y) for r in rows]
    mus, sds = [], []
    for j in range(N_FEATS):
        mu = _q9((sum(_micro(x[j]) for x in X) / 1e9) / n)
        var = (
            sum(_micro((x[j] - mu) * (x[j] - mu)) for x in X) / 1e9
        ) / n
        mus.append(mu)
        sds.append(_q9(math.sqrt(var)) if var > 0 else 1.0)
    S = [
        [_q9((x[j] - mus[j]) / sds[j]) for j in range(N_FEATS)]
        for x in X
    ]
    w = [0.0] * (N_FEATS + 1)
    for _ in range(GD_STEPS):
        G = [0] * (N_FEATS + 1)
        for i, s in enumerate(S):
            z = (
                (((w[0] * 1.0 + w[1] * s[0]) + w[2] * s[1]) + w[3] * s[2])
                + w[4] * s[3]
            )
            d = (0.5 + z / (2.0 * (1.0 + abs(z)))) - Y[i]
            G[0] += _micro(1.0 * d)
            for j in range(N_FEATS):
                G[j + 1] += _micro(s[j] * d)
        w = [
            _q9(w[j] - LR * ((G[j] / 1e9) / n))
            for j in range(N_FEATS + 1)
        ]
    return mus, sds, w


def _q9_col(c: F.Column) -> F.Column:
    """Catalyst twin of _q9 (floor/ceil half-up — F.floor on DOUBLE
    returns LONG, the /1e9 brings it back to DOUBLE)."""
    return F.when(
        c >= 0, F.floor(c * 1e9 + 0.5) / 1e9
    ).otherwise(F.ceil(c * 1e9 - 0.5) / 1e9)


def quality_classifier(docs: DataFrame) -> DataFrame:
    """Fit on the labeled subset, score EVERY document in one
    map-only Catalyst scan (weights/standardizers ride as literals).
    Output per doc: split, label, pred, prob (6dp), correct, plus
    the fitted w0..w4 as constant columns (they ride the value hash,
    so the driver certifies the TRAINING, not just the scoring)."""
    feats = quality_features(docs)
    mus, sds, w = train_quality_lr(feats)
    s = [
        _q9_col((F.col(f"x{j + 1}") - F.lit(mus[j])) / F.lit(sds[j]))
        for j in range(N_FEATS)
    ]
    z = (
        (((F.lit(w[0]) * F.lit(1.0) + F.lit(w[1]) * s[0])
          + F.lit(w[2]) * s[1]) + F.lit(w[3]) * s[2])
        + F.lit(w[4]) * s[3]
    )
    sig = F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))
    pred = F.when(z >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return feats.select(
        "doc_id",
        F.when(F.col("doc_id") % TRAIN_MOD == 0, F.lit("train"))
        .otherwise(F.lit("holdout"))
        .alias("split"),
        F.col("y").alias("label"),
        pred.alias("pred"),
        F.round(sig + 1e-12, 6).alias("prob"),
        (pred == F.col("y")).alias("correct"),
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.lit(w[3]).alias("w3"),
        F.lit(w[4]).alias("w4"),
    )


def classifier_oracle_sql() -> str:
    """Full replay: features + teacher label, train-subset exact
    standardizers, GD_STEPS unrolled gradient steps (each one
    MATERIALIZED — the chain is multi-referenced), scoring scan.
    sum(BIGINT) is HUGEINT in DuckDB, so every micro sum carries an
    explicit ::BIGINT cast before the /1e9."""
    sig = "(0.5 + z / (2.0 * (1.0 + abs(z))))"
    zexpr = (
        "((((w.w0 * 1.0 + w.w1 * s.s1) + w.w2 * s.s2)"
        " + w.w3 * s.s3) + w.w4 * s.s4)"
    )
    cte = [
        r"""feat AS MATERIALIZED (
          SELECT doc_id,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
              / greatest(length(text), 1) AS x1,
            length(text)::DOUBLE
              / greatest(len(string_split_regex(trim(text), '\s+')), 1)
              AS x2,
            len(list_distinct(string_split_regex(trim(text), '\s+')))
              ::DOUBLE
              / greatest(len(string_split_regex(trim(text), '\s+')), 1)
              AS x3,
            least(len(string_split_regex(trim(text), '\s+')), 100)
              ::DOUBLE / 100.0 AS x4,
            CASE WHEN round(
              0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                     ::DOUBLE / greatest(length(text), 1))
              + 0.4 * (CASE WHEN length(text)::DOUBLE
                   / greatest(len(string_split_regex(trim(text), '\s+')), 1)
                   >= 3.0
                 AND length(text)::DOUBLE
                   / greatest(len(string_split_regex(trim(text), '\s+')), 1)
                   <= 10.0 THEN 1.0 ELSE 0.5 END)
              + 0.2 * (CASE WHEN regexp_matches(text, '[.!?]\s*$')
                       THEN 1.0 ELSE 0.0 END), 6) >= 0.73
            THEN 1 ELSE 0 END AS y
          FROM documents
        )""",
        "tr AS MATERIALIZED (SELECT * FROM feat WHERE doc_id % 3 = 0)",
        "cnt AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM tr)",
        f"""mu AS MATERIALIZED (
          SELECT {_q9_sql('(t.m1 / 1e9) / c.n')} AS m1,
                 {_q9_sql('(t.m2 / 1e9) / c.n')} AS m2,
                 {_q9_sql('(t.m3 / 1e9) / c.n')} AS m3,
                 {_q9_sql('(t.m4 / 1e9) / c.n')} AS m4
          FROM (SELECT sum({_mic_sql('x1')})::BIGINT AS m1,
                       sum({_mic_sql('x2')})::BIGINT AS m2,
                       sum({_mic_sql('x3')})::BIGINT AS m3,
                       sum({_mic_sql('x4')})::BIGINT AS m4
                FROM tr) t, cnt c
        )""",
        f"""sd AS MATERIALIZED (
          SELECT
            CASE WHEN (t.v1 / 1e9) / c.n > 0
                 THEN {_q9_sql('sqrt((t.v1 / 1e9) / c.n)')}
                 ELSE 1.0 END AS d1,
            CASE WHEN (t.v2 / 1e9) / c.n > 0
                 THEN {_q9_sql('sqrt((t.v2 / 1e9) / c.n)')}
                 ELSE 1.0 END AS d2,
            CASE WHEN (t.v3 / 1e9) / c.n > 0
                 THEN {_q9_sql('sqrt((t.v3 / 1e9) / c.n)')}
                 ELSE 1.0 END AS d3,
            CASE WHEN (t.v4 / 1e9) / c.n > 0
                 THEN {_q9_sql('sqrt((t.v4 / 1e9) / c.n)')}
                 ELSE 1.0 END AS d4
          FROM (SELECT
                  sum({_mic_sql('(x1 - m.m1) * (x1 - m.m1)')})::BIGINT AS v1,
                  sum({_mic_sql('(x2 - m.m2) * (x2 - m.m2)')})::BIGINT AS v2,
                  sum({_mic_sql('(x3 - m.m3) * (x3 - m.m3)')})::BIGINT AS v3,
                  sum({_mic_sql('(x4 - m.m4) * (x4 - m.m4)')})::BIGINT AS v4
                FROM tr, mu m) t, cnt c
        )""",
        f"""std AS MATERIALIZED (
          SELECT tr.doc_id, tr.y,
                 {_q9_sql('(tr.x1 - m.m1) / d.d1')} AS s1,
                 {_q9_sql('(tr.x2 - m.m2) / d.d2')} AS s2,
                 {_q9_sql('(tr.x3 - m.m3) / d.d3')} AS s3,
                 {_q9_sql('(tr.x4 - m.m4) / d.d4')} AS s4
          FROM tr, mu m, sd d
        )""",
        "w0 AS MATERIALIZED (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, "
        "0.0 AS w3, 0.0 AS w4)",
    ]
    for k in range(1, GD_STEPS + 1):
        cte.append(
            f"""g{k} AS MATERIALIZED (
          SELECT sum({_mic_sql('1.0 * q.d')})::BIGINT AS g0,
                 sum({_mic_sql('q.s1 * q.d')})::BIGINT AS g1,
                 sum({_mic_sql('q.s2 * q.d')})::BIGINT AS g2,
                 sum({_mic_sql('q.s3 * q.d')})::BIGINT AS g3,
                 sum({_mic_sql('q.s4 * q.d')})::BIGINT AS g4
          FROM (SELECT p.s1, p.s2, p.s3, p.s4,
                       {sig.replace('z', 'p.z')} - p.y AS d
                FROM (SELECT s.s1, s.s2, s.s3, s.s4,
                             s.y::DOUBLE AS y, {zexpr} AS z
                      FROM std s, w{k - 1} w) p) q
        )""")
        cte.append(
            f"""w{k} AS MATERIALIZED (
          SELECT {_q9_sql('w.w0 - 0.5 * ((g.g0 / 1e9) / c.n)')} AS w0,
                 {_q9_sql('w.w1 - 0.5 * ((g.g1 / 1e9) / c.n)')} AS w1,
                 {_q9_sql('w.w2 - 0.5 * ((g.g2 / 1e9) / c.n)')} AS w2,
                 {_q9_sql('w.w3 - 0.5 * ((g.g3 / 1e9) / c.n)')} AS w3,
                 {_q9_sql('w.w4 - 0.5 * ((g.g4 / 1e9) / c.n)')} AS w4
          FROM w{k - 1} w, g{k} g, cnt c
        )""")
    cte.append(
        f"""sc AS MATERIALIZED (
          SELECT s.doc_id, s.y, w.w0, w.w1, w.w2, w.w3, w.w4,
                 {zexpr} AS z
          FROM (SELECT feat.doc_id, feat.y,
                       {_q9_sql('(feat.x1 - m.m1) / d.d1')} AS s1,
                       {_q9_sql('(feat.x2 - m.m2) / d.d2')} AS s2,
                       {_q9_sql('(feat.x3 - m.m3) / d.d3')} AS s3,
                       {_q9_sql('(feat.x4 - m.m4) / d.d4')} AS s4
                FROM feat, mu m, sd d) s, w{GD_STEPS} w
        )"""
    )
    return (
        "WITH "
        + ",\n        ".join(cte)
        + f"""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'train'
                    ELSE 'holdout' END AS split,
               y::BIGINT AS label,
               (CASE WHEN z >= 0 THEN 1 ELSE 0 END)::BIGINT AS pred,
               round({sig} + 1e-12, 6) + 0.0 AS prob,
               (CASE WHEN z >= 0 THEN 1 ELSE 0 END) = y AS correct,
               w0, w1, w2, w3, w4
        FROM sc
    """
    )
