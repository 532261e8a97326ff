"""Clustering family vs scalar ports of the reference algorithms
(stats/clustering.go): the relational DBSCAN must reproduce the Go's
sequential scan-order labels exactly (components, creation order,
border adoption); the evaluation metrics must match the Go loops; the
sequential kernels are exercised on shaped fixtures."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sonar_spark.operators import clustering
from sonar_spark.operators.clustering import (
    cluster_eval,
    dbscan,
    gmm_sequence,
    hierarchical_sequence,
    kmedoids_sequence,
)


def _dist(a, b):
    return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))


def go_dbscan(data, eps, min_pts):
    """Line-for-line port of clustering.go:930-1046 (scan-order
    cluster ids, seed-set expansion, border adoption)."""
    n = len(data)
    labels = [-1] * n
    visited = [False] * n

    def neighbors(i):
        return [
            j for j in range(n)
            if j != i and _dist(data[i], data[j]) <= eps
        ]

    cid = 0
    for i in range(n):
        if visited[i]:
            continue
        visited[i] = True
        nb = neighbors(i)
        if len(nb) < min_pts:
            labels[i] = -1
            continue
        labels[i] = cid
        seed = list(nb)
        j = 0
        while j < len(seed):
            q = seed[j]
            if not visited[q]:
                visited[q] = True
                qn = neighbors(q)
                if len(qn) >= min_pts:
                    seed.extend(qn)
            if labels[q] == -1:
                labels[q] = cid
            j += 1
        cid += 1
    return labels


def test_dbscan_matches_go_scan_order(spark, monkeypatch):
    """Random geometry at several (eps, min_pts): the relational
    plan's labels equal the Go's sequential labels for every point —
    including cluster-id numbering and ambiguous-border adoption."""
    rng = np.random.default_rng(5)
    # three gaussian blobs + sprinkled noise in 2-D
    pts = np.concatenate([
        rng.normal((0, 0), 0.15, size=(18, 2)),
        rng.normal((2, 0), 0.15, size=(14, 2)),
        rng.normal((1, 2), 0.15, size=(12, 2)),
        rng.uniform(-1, 3, size=(10, 2)),
    ])
    data = [list(map(float, p)) for p in pts]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(data)], "id long, vec array<double>"
    )
    # the queries run eps 0.15, min_pts 3 on other geometry
    for eps, mp in ((0.4, 3), (0.3, 4), (0.6, 2)):
        monkeypatch.setattr(clustering, "_EPS", eps)
        monkeypatch.setattr(clustering, "_MIN_PTS", mp)
        want = go_dbscan(data, eps, mp)
        got = {r["id"]: r["label"] for r in dbscan(df).collect()}
        assert [got[i] for i in range(len(data))] == want, (eps, mp)


def go_silhouette(data, labels):
    n = len(data)
    if n < 2:
        return 0.0
    out = []
    for i in range(n):
        same = [
            _dist(data[i], data[j])
            for j in range(n)
            if j != i and labels[j] == labels[i]
        ]
        a = sum(same) / len(same) if same else 0.0
        by = {}
        for j in range(n):
            if labels[j] != labels[i]:
                by.setdefault(labels[j], []).append(_dist(data[i], data[j]))
        b = min(
            (sum(v) / len(v) for v in by.values()), default=math.inf
        )
        if a < b:
            out.append((b - a) / b)
        elif a > b:
            out.append((b - a) / a)
        else:
            out.append(0.0)
    return sum(out) / n


def test_cluster_eval_matches_go(spark):
    rng = np.random.default_rng(9)
    pts = np.concatenate([
        rng.normal((0, 0), 0.3, size=(10, 2)),
        rng.normal((3, 1), 0.3, size=(8, 2)),
        rng.normal((1, 3), 0.3, size=(7, 2)),
    ])
    data = [list(map(float, p)) for p in pts]
    labels = [0] * 10 + [1] * 8 + [2] * 7
    k = 3
    centers = []
    for c in range(k):
        mem = [data[i] for i in range(len(data)) if labels[i] == c]
        centers.append([sum(col) / len(mem) for col in zip(*mem)])

    pdf = spark.createDataFrame(
        [(i, data[i], labels[i]) for i in range(len(data))],
        "id long, vec array<double>, label int",
    )
    cdf = spark.createDataFrame(
        [(c, centers[c]) for c in range(k)],
        "label int, center array<double>",
    )
    row = cluster_eval(pdf, cdf).collect()[0]

    # silhouette (go loops)
    assert abs(row["silhouette"] - go_silhouette(data, labels)) < 1e-12
    # inertia
    inertia = sum(
        _dist(data[i], centers[labels[i]]) ** 2 for i in range(len(data))
    )
    assert abs(row["inertia"] - inertia) < 1e-9
    # davies-bouldin (go loops)
    scat = []
    for c in range(k):
        mem = [i for i in range(len(data)) if labels[i] == c]
        scat.append(
            sum(_dist(data[i], centers[c]) for i in mem) / len(mem)
        )
    db = 0.0
    for i in range(k):
        mx = 0.0
        for j in range(k):
            if i != j:
                cd = _dist(centers[i], centers[j])
                if cd > 0:
                    mx = max(mx, (scat[i] + scat[j]) / cd)
        db += mx
    assert abs(row["davies_bouldin"] - db / k) < 1e-12
    # calinski-harabasz
    n = len(data)
    oc = [sum(col) / n for col in zip(*data)]
    bgss = sum(
        sum(1 for l in labels if l == c) * _dist(centers[c], oc) ** 2
        for c in range(k)
    )
    ch = (bgss / (k - 1)) / (inertia / (n - k))
    assert abs(row["calinski_harabasz"] - ch) < 1e-9


def test_kmedoids_sequence_reference_semantics():
    """PAM on a 1-D fixture with known medoids + assignment/update
    tie-breaks; convergence against zero-initialized prevLabels."""
    data = [[0.0], [1.0], [2.0], [10.0], [11.0], [12.0]]
    labels, med, it, conv = kmedoids_sequence(data, 2, [0, 3])
    assert labels == [0, 0, 0, 1, 1, 1]
    assert med == [1, 4]  # central points minimize total distance
    assert conv
    # assignment tie at equidistance -> first medoid slot wins
    data = [[0.0], [2.0], [1.0]]
    labels, med, it, conv = kmedoids_sequence(data, 2, [0, 1])
    assert labels[2] == 0  # |1-0| == |1-2| -> slot 0


def test_hierarchical_sequence_linkages():
    data = [[0.0], [0.4], [5.0], [5.3], [10.0]]
    labels, steps = hierarchical_sequence(data, 3)
    assert steps == 2
    assert labels[0] == labels[1]
    assert labels[2] == labels[3]
    assert len(set(labels)) == 3
    # slice-order tie-break: both pairs at distance 1 -> first pair
    # (positions 0,1) merges first
    data = [[0.0], [1.0], [5.0], [6.0]]
    labels, _ = hierarchical_sequence(data, 3)
    assert labels[0] == labels[1] and labels[2] != labels[3]


def test_gmm_sequence_separates_blobs():
    rng = np.random.default_rng(12)
    pts = np.concatenate([
        rng.normal(0.0, 0.3, size=(15, 2)),
        rng.normal(5.0, 0.3, size=(15, 2)),
    ])
    data = [list(map(float, p)) for p in pts]
    labels, means, var, mix, resp = gmm_sequence(data, 2, [0, 15], max_iter=4)
    assert set(labels[:15]) == {0} and set(labels[15:]) == {1}
    assert abs(mix[0] - 0.5) < 0.05
    for d in range(2):
        assert abs(means[0][d] - 0.0) < 0.3
        assert abs(means[1][d] - 5.0) < 0.3
        assert var[0][d] > 0


def test_cluster_eval_empty_and_single_cluster(spark):
    """Round-4 advice: empty input must not crash (documented all-zero
    row); a single cluster label scores silhouette 0.0 (documented
    deviation from the Go's (b-a)/+Inf = NaN)."""
    empty_p = spark.createDataFrame(
        [], "id long, vec array<double>, label int"
    )
    empty_c = spark.createDataFrame(
        [], "label int, center array<double>"
    )
    row = cluster_eval(empty_p, empty_c).collect()[0]
    assert row["n_points"] == 0 and row["silhouette"] == 0.0

    pdf = spark.createDataFrame(
        [(0, [0.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "id long, vec array<double>, label int",
    )
    cdf = spark.createDataFrame(
        [(0, [1.0 / 3, 1.0 / 3])], "label int, center array<double>"
    )
    row = cluster_eval(pdf, cdf).collect()[0]
    assert row["silhouette"] == 0.0
    assert row["n_clusters"] == 1
