"""Clustering family (stats/clustering.go) — k-medoids, agglomerative
hierarchical, DBSCAN, diagonal-covariance GMM, and the cluster
evaluation metrics (silhouette / Davies-Bouldin / Calinski-Harabasz /
inertia, :441-657).

Reference shape: every algorithm runs over ONE in-memory [][]float64
(single-node).  Spark framing:

- DBSCAN and the evaluation metrics are RELATIONAL — the
  epsilon-neighborhood graph is a distance self-join (LSH-bucketed
  upstream at scale, all-pairs on bounded sets), clusters are
  connected components of the core-core subgraph, and every metric is
  joins + aggregations;
- k-medoids / hierarchical / GMM are inherently sequential
  state-machine iterations over a bounded point set: implemented as
  faithful scalar kernels applied per GROUP (applyInArrow), so
  datasets are the parallel unit — the same shape as the chroma DP
  and harmonic-tracking kernels.

DBSCAN label semantics (dbscan :930-1046): the Go assigns cluster ids
in scan order, but (a) clusters are exactly the connected components
of the core-core epsilon-graph (a core reached by another cluster's
expansion merges the components), (b) each component's cluster is
created when the scan hits its minimal-index core, so creation order
= ascending minimal core id, and (c) a border point inside the
epsilon-ball of several clusters is claimed by the EARLIEST-created
one (expansion runs to exhaustion before the scan continues).  The
relational form reproduces all three rules exactly: component key =
min core id, cluster id = dense rank of that key, border -> min
cluster id among its core neighbors.  findNeighbors excludes the
point itself, so the MinPoints test counts strict neighbors
(:1049-1064).

Evaluation-metric caveat (reproduced by documentation, not by crash):
calculateInertia / calculateCalinskiHarabasz index centers[label] and
PANIC on DBSCAN noise labels (-1); cluster_eval computes those two
metrics over labeled (label >= 0) points only.  Silhouette treats the
noise label as just another cluster label — exactly as the Go does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _euclid(a: Column, b: Column) -> Column:
    """Euclidean distance between two array columns
    (clustering.go:332-340, the default metric)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_EPS = 0.15
_MIN_PTS = 3


def dbscan(points: DataFrame) -> DataFrame:
    """DBSCAN (clustering.go:930-1046) as a relational plan:
    epsilon self-join -> core test (strict-neighbor count >= MinPoints)
    -> connected components over core-core edges -> border adoption
    -> noise = -1.  Scale note: the all-pairs epsilon join is the
    bounded-set baseline; at 100x the pair generation is LSH/grid
    bucketed first (the embedding_neardup_lsh construction) and the
    rest of the plan is unchanged.

    Output: (id, label int, is_core boolean) — label semantics
    identical to the Go scan-order ids (see module docstring)."""
    from .fingerprint import connected_components

    p = points.select(
        F.col("id").alias("__id"), F.col("vec").alias("__v")
    )
    a = p.select(F.col("__id").alias("__ia"), F.col("__v").alias("__va"))
    b = p.select(F.col("__id").alias("__ib"), F.col("__v").alias("__vb"))
    pairs = (
        a.join(b, F.col("__ia") != F.col("__ib"))
        .where(_euclid(F.col("__va"), F.col("__vb")) <= _EPS)
        .select("__ia", "__ib")
        .persist()
    )
    deg = pairs.groupBy("__ia").agg(F.count("*").alias("__deg"))
    cores = deg.where(F.col("__deg") >= _MIN_PTS).select(
        F.col("__ia").alias("__core")
    ).persist()
    core_edges = (
        pairs.join(cores.withColumnRenamed("__core", "__ia"), "__ia")
        .join(cores.withColumnRenamed("__core", "__ib"), "__ib")
        .select(F.col("__ia").alias("doc_a"), F.col("__ib").alias("doc_b"))
    )
    cc = connected_components(core_edges)
    core_comp = (
        cores.join(
            cc.withColumnRenamed("node", "__core"), "__core", "left"
        )
        .select(
            "__core",
            F.coalesce("comp", F.col("__core")).alias("__comp"),
        )
        .persist()
    )
    # cluster ids in creation order = ascending minimal core id
    comp_ids = (
        core_comp.select("__comp")
        .distinct()
        .withColumn(
            "label",
            (
                F.row_number().over(Window.orderBy("__comp")) - 1
            ).cast("int"),
        )
    )
    core_lab = core_comp.join(comp_ids, "__comp").select(
        F.col("__core").alias("__id"),
        "label",
        F.lit(True).alias("is_core"),
    )
    # border: non-core with >= 1 core neighbor -> earliest cluster
    border = (
        pairs.join(cores.withColumnRenamed("__core", "__ib"), "__ib")
        .join(
            core_lab.select(
                F.col("__id").alias("__ib"),
                F.col("label").alias("__bl"),
            ),
            "__ib",
        )
        .join(
            core_lab.select(F.col("__id").alias("__ia")),
            "__ia",
            "left_anti",
        )
        .groupBy("__ia")
        .agg(F.min("__bl").alias("label"))
        .select(
            F.col("__ia").alias("__id"),
            "label",
            F.lit(False).alias("is_core"),
        )
    )
    labeled = core_lab.unionByName(border)
    out = (
        p.select("__id")
        .join(labeled, "__id", "left")
        .select(
            F.col("__id").alias("id"),
            F.coalesce("label", F.lit(-1)).cast("int").alias("label"),
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
        )
    )
    return out


def cluster_eval(points: DataFrame, centers: DataFrame) -> DataFrame:
    """Cluster evaluation metrics (clustering.go):

    - silhouette (:480-561): per point a = mean distance to OTHER
      same-label points (0 if alone), b = min over other labels of
      the mean distance; s = (b-a)/max(a,b) branch-for-branch as the
      Go writes it; score = mean over all points (noise label
      participates as its own cluster, as written);
    - Davies-Bouldin (:563-604): scatter = mean member-to-center
      distance; db = mean over clusters of the max pairwise
      (s_i+s_j)/d(c_i,c_j) ratio (center distance > 0 required);
    - Calinski-Harabasz (:607-657): overall centroid over ALL
      points; bgss over non-empty clusters; wgss over LABELED
      points (the Go indexes centers[label] and would panic on
      noise, see module docstring); 0 when wgss == 0 or k < 2 or
      n == k;
    - inertia (:468-479): sum of squared member-to-center distances
      over labeled points (same panic caveat).

    Output: one row (n_points, n_clusters, silhouette,
    davies_bouldin, calinski_harabasz, inertia).

    Deviations from the Go (documented): an empty points input
    returns one all-zero row (the Go would index into empty slices);
    with a single cluster label every point's b is over an empty set
    — the Go's min over no clusters leaves b=+Inf and (b-a)/b = NaN,
    which cannot ride the value hash, so this port scores those
    points 0.0 (the b-is-NULL branch below)."""
    p = points.select(
        F.col("id").alias("__id"),
        F.col("vec").alias("__v"),
        F.col("label").alias("__l"),
    ).persist()
    c = centers.select(
        F.col("label").alias("__cl"),
        F.col("center").alias("__cv"),
    ).persist()

    # ---------------- silhouette over the pairwise distance table
    a = p.select(
        F.col("__id").alias("__ia"),
        F.col("__v").alias("__va"),
        F.col("__l").alias("__la"),
    )
    b = p.select(
        F.col("__id").alias("__ib"),
        F.col("__v").alias("__vb"),
        F.col("__l").alias("__lb"),
    )
    pd_ = a.join(b, F.col("__ia") != F.col("__ib")).select(
        "__ia", "__la", "__lb",
        _euclid(F.col("__va"), F.col("__vb")).alias("__d"),
    )
    intra = (
        pd_.where(F.col("__la") == F.col("__lb"))
        .groupBy("__ia")
        .agg(F.avg("__d").alias("__a"))
    )
    nearest = (
        pd_.where(F.col("__la") != F.col("__lb"))
        .groupBy("__ia", "__lb")
        .agg(F.avg("__d").alias("__ad"))
        .groupBy("__ia")
        .agg(F.min("__ad").alias("__b"))
    )
    sil = (
        p.select(F.col("__id").alias("__ia"))
        .join(intra, "__ia", "left")
        .join(nearest, "__ia", "left")
        .select(
            F.coalesce("__a", F.lit(0.0)).alias("__a"),
            F.col("__b"),
        )
        .select(
            F.when(F.col("__b").isNull(), F.lit(0.0))
            .when(
                F.col("__a") < F.col("__b"),
                (F.col("__b") - F.col("__a")) / F.col("__b"),
            )
            .when(
                F.col("__a") > F.col("__b"),
                (F.col("__b") - F.col("__a")) / F.col("__a"),
            )
            .otherwise(F.lit(0.0))
            .alias("__s")
        )
        .agg(F.avg("__s").alias("silhouette"))
    )

    # ---------------- member-to-center distances
    m = p.join(c, F.col("__l") == F.col("__cl")).select(
        "__l", "__v",
        _euclid(F.col("__v"), F.col("__cv")).alias("__dc"),
    )
    scat = m.groupBy("__l").agg(
        F.avg("__dc").alias("__scatter"),
        F.count("*").alias("__cnt"),
        F.sum(F.col("__dc") * F.col("__dc")).alias("__ssq"),
    )
    inertia = scat.agg(
        F.sum("__ssq").alias("inertia"),
        F.count("*").alias("__k_used"),
    )

    # ---------------- Davies-Bouldin
    ci = c.select(
        F.col("__cl").alias("__i"), F.col("__cv").alias("__vi")
    )
    cj = c.select(
        F.col("__cl").alias("__j"), F.col("__cv").alias("__vj")
    )
    cd = ci.join(cj, F.col("__i") != F.col("__j")).select(
        "__i", "__j",
        _euclid(F.col("__vi"), F.col("__vj")).alias("__cd"),
    )
    si = scat.select(
        F.col("__l").alias("__i"), F.col("__scatter").alias("__si")
    )
    sj = scat.select(
        F.col("__l").alias("__j"), F.col("__scatter").alias("__sj")
    )
    ratios = (
        cd.join(si, "__i", "left")
        .join(sj, "__j", "left")
        .where(F.col("__cd") > 0)
        .select(
            "__i",
            (
                (
                    F.coalesce("__si", F.lit(0.0))
                    + F.coalesce("__sj", F.lit(0.0))
                )
                / F.col("__cd")
            ).alias("__r"),
        )
        .groupBy("__i")
        .agg(F.max("__r").alias("__mr"))
    )
    k_total = c.count()
    db = (
        c.select(F.col("__cl").alias("__i"))
        .join(ratios, "__i", "left")
        .agg(
            (
                F.sum(F.coalesce("__mr", F.lit(0.0)))
                / F.lit(float(k_total))
            ).alias("davies_bouldin")
        )
    )

    # ---------------- Calinski-Harabasz
    n_total = p.count()
    first_row = p.select("__v").first()
    if first_row is None:
        # empty input: no dim to read — return the documented
        # all-zero metrics row instead of crashing
        spark = points.sparkSession
        return spark.createDataFrame(
            [(0, 0, 0.0, 0.0, 0.0, 0.0)],
            "n_points long, n_clusters long, silhouette double, "
            "davies_bouldin double, calinski_harabasz double, "
            "inertia double",
        )
    dim = len(first_row["__v"])
    overall = p.agg(
        F.array(
            *[
                F.avg(F.col("__v").getItem(i)).alias(f"o{i}")
                for i in range(dim)
            ]
        ).alias("__oc")
    )
    bg = (
        scat.join(c, scat["__l"] == c["__cl"])
        .crossJoin(overall)
        .select(
            (
                F.col("__cnt").cast("double")
                * F.pow(_euclid(F.col("__cv"), F.col("__oc")), 2)
            ).alias("__bg")
        )
        .agg(F.sum("__bg").alias("__bgss"))
    )
    ch = bg.crossJoin(inertia).select(
        "__bgss", "inertia", "__k_used"
    )

    out = (
        sil.crossJoin(db)
        .crossJoin(ch)
        .select(
            F.lit(n_total).cast("long").alias("n_points"),
            F.lit(k_total).cast("long").alias("n_clusters"),
            "silhouette",
            "davies_bouldin",
            F.when(
                (F.lit(k_total) < 2)
                | (F.lit(n_total) == F.lit(k_total))
                | (F.col("inertia") == 0),
                F.lit(0.0),
            )
            .otherwise(
                (F.col("__bgss") / F.lit(float(k_total - 1)))
                / (
                    F.col("inertia")
                    / F.lit(float(n_total - k_total))
                )
            )
            .alias("calinski_harabasz"),
            F.col("inertia"),
        )
    )
    return out


# ---------------------------------------------------------------- scalar
# kernels for the inherently sequential algorithms (per-group parallel)

def _d(a, b) -> float:
    """Euclidean, index-ascending accumulation (clustering.go:332-340
    loop order — matches list_sum order in the DuckDB oracles)."""
    import math

    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return math.sqrt(s)


def kmedoids_sequence(
    data: list, k: int, init_idx: list, max_iter: int = 100
):
    """PAM k-medoids (clustering.go:659-776) with explicit initial
    medoid indices (the Go draws them from its seeded PRNG, which is
    not part of the algorithm's semantics and not reproducible
    cross-engine; everything after initialization is ported
    branch-for-branch).  Assignment ties: strict <, first medoid
    slot wins; medoid-update ties: strict <, first cluster member in
    index order wins; convergence = labels unchanged (the Go
    compares against a zero-initialized prevLabels before the first
    iteration, reproduced).  Returns (labels, medoids, iterations,
    converged)."""
    import math

    n = len(data)
    med = list(init_idx)
    labels = [0] * n
    prev = [0] * n
    converged = False
    it = 0
    while it < max_iter and not converged:
        for i in range(n):
            bd, best = math.inf, 0
            for j, mi in enumerate(med):
                d = _d(data[i], data[mi])
                if d < bd:
                    bd, best = d, j
            labels[i] = best
        for cj in range(k):
            pts = [i for i in range(n) if labels[i] == cj]
            if not pts:
                continue
            bm, bc = med[cj], math.inf
            for cand in pts:
                cost = 0.0
                for pi in pts:
                    cost += _d(data[cand], data[pi])
                if cost < bc:
                    bc, bm = cost, cand
            med[cj] = bm
        converged = labels == prev
        prev = labels[:]
        it += 1
    return labels, med, it, converged


def hierarchical_sequence(data: list, k: int):
    """Agglomerative clustering (clustering.go:779-871 + linkage
    :872-927): every point starts as its own cluster (slice order =
    point order); each step merges the pair with the smallest
    linkage distance, scanning i < j over the CURRENT slice with
    strict < (first pair wins ties -> lexicographic (dist, i, j)
    min); cluster j's members append to i and j is removed.
    Linkage: the Go's documented simplified Ward, sqrt(mean of
    squared pairwise distances).  Returns (labels, n_steps) with labels =
    final-slice cluster positions."""
    import math

    n = len(data)
    dm = [[_d(data[i], data[j]) if i != j else 0.0 for j in range(n)]
          for i in range(n)]
    clusters = [[i] for i in range(n)]

    def cdist(c1, c2):
        # simplified Ward (:913-923)
        s, cnt = 0.0, 0
        for i in c1:
            for j in c2:
                s += dm[i][j] * dm[i][j]
                cnt += 1
        return math.sqrt(s / cnt)

    steps = 0
    while len(clusters) > k:
        bd, bi, bj = math.inf, -1, -1
        for i in range(len(clusters)):
            for j in range(i + 1, len(clusters)):
                d = cdist(clusters[i], clusters[j])
                if d < bd:
                    bd, bi, bj = d, i, j
        clusters[bi] = clusters[bi] + clusters[bj]
        del clusters[bj]
        steps += 1
    labels = [0] * n
    for ci, members in enumerate(clusters):
        for p in members:
            labels[p] = ci
    return labels, steps


def gmm_sequence(data: list, k: int, init_mean_idx: list, max_iter: int = 4):
    """Diagonal-covariance GMM via EM (clustering.go:1066-1199 +
    gaussianPDF :1202-1228): identity initial covariances, uniform
    mixing, explicit initial means (the Go's PRNG init is not part
    of the EM semantics), responsibilities normalized per point then
    ROUNDED to ``resp_decimals`` — the quantized interface that
    makes every downstream M-step sum and the final argmax agree
    bit-for-bit with the DuckDB replay despite exp/pow being
    engine-library transcendentals.  Tolerance is taken as 0 (the
    convergence break compares |delta log-likelihood| < tol, never
    true at 0), so exactly ``max_iter`` EM iterations run.  Labels:
    argmax responsibility with strict >, slot 0 default.  Returns
    (labels, means, variances, mix, responsibilities)."""
    resp_decimals = 9
    import math

    n, dim = len(data), len(data[0])
    means = [list(data[i]) for i in init_mean_idx]
    var = [[1.0] * dim for _ in range(k)]
    mix = [1.0 / k] * k
    resp = [[0.0] * k for _ in range(n)]

    def pdf(x, mean, v):
        det = 1.0
        for d in range(dim):
            det *= v[d]
        q = 0.0
        for d in range(dim):
            if v[d] > 0:
                diff = x[d] - mean[d]
                q += diff * diff / v[d]
        norm = 1.0 / math.sqrt(math.pow(2 * math.pi, dim) * det)
        return norm * math.exp(-0.5 * q)

    for _ in range(max_iter):
        for i in range(n):
            s = 0.0
            for j in range(k):
                resp[i][j] = mix[j] * pdf(data[i], means[j], var[j])
                s += resp[i][j]
            if s > 0:
                for j in range(k):
                    resp[i][j] = round(resp[i][j] / s, resp_decimals)
        for j in range(k):
            nj = 0.0
            for i in range(n):
                nj += resp[i][j]
            if nj > 0:
                for d in range(dim):
                    m = 0.0
                    for i in range(n):
                        m += resp[i][j] * data[i][d]
                    means[j][d] = m / nj
                for d in range(dim):
                    s2 = 0.0
                    for i in range(n):
                        diff = data[i][d] - means[j][d]
                        s2 += resp[i][j] * diff * diff
                    var[j][d] = s2 / nj + 1e-6
                mix[j] = nj / n
    labels = []
    for i in range(n):
        mr, best = 0.0, 0
        for j in range(k):
            if resp[i][j] > mr:
                mr, best = resp[i][j], j
        labels.append(best)
    return labels, means, var, mix, resp


def _per_group_cluster(points, out_extra, fn):
    """Shared applyInArrow shape over (id, vec) points: one bounded
    point set per group (datasets are the parallel unit), rows sorted
    by id inside the kernel, deterministic output; fn(ids, vectors)
    returns the output columns by name."""
    import pyarrow as pa

    from ..kernels import vectors_matrix
    from ..session import arrow_batch, arrow_schema

    inp = points.select(
        F.lit(0).alias("__g"),
        F.col("id").alias("__id"),
        F.col("vec").alias("__v"),
    )
    out_schema = "id long, " + out_extra
    out = arrow_schema(out_schema)

    def run(t):
        t = t.sort_by("__id")
        cols = fn(
            t.column("__id").to_pylist(),
            vectors_matrix(t.column("__v")).tolist(),
        )
        return pa.Table.from_batches(
            [arrow_batch(out, [cols[f.name] for f in out])]
        )

    return inp.groupBy("__g").applyInArrow(run, out_schema)


_K = 3
_MAX_ITER = 20


def kmedoids_cluster(points: DataFrame) -> DataFrame:
    """k-medoids over a bounded point set (see kmedoids_sequence).
    Initial medoids = the k smallest ids (deterministic stand-in for
    the Go's seeded PRNG draw — initialization is a parameter of the
    algorithm, not part of its update semantics).  Output: id,
    label int, is_medoid."""

    def fn(ids, data):
        labels, med, _, _ = kmedoids_sequence(
            data, _K, list(range(_K)), _MAX_ITER
        )
        medset = set(med)
        return {
            "id": ids,
            "label": labels,
            "is_medoid": [i in medset for i in range(len(ids))],
        }

    return _per_group_cluster(points, "label int, is_medoid boolean", fn)


_N_CLUSTERS = 4


def hierarchical_clusters(points: DataFrame) -> DataFrame:
    """Agglomerative clustering over a bounded point set (see
    hierarchical_sequence).  Output: id, label int."""

    def fn(ids, data):
        labels, _ = hierarchical_sequence(data, _N_CLUSTERS)
        return {"id": ids, "label": labels}

    return _per_group_cluster(points, "label int", fn)


_GMM_K = 2
_GMM_MAX_ITER = 4


def gmm_cluster(points: DataFrame) -> DataFrame:
    """Diagonal-covariance GMM over a bounded point set (see
    gmm_sequence; initial means = the k smallest ids' vectors).
    Output: id, label int, resp double (winning responsibility from
    the final E-step, already 9-dp quantized)."""

    def fn(ids, data):
        labels, means, var, mix, resp = gmm_sequence(
            data, _GMM_K, list(range(_GMM_K)), _GMM_MAX_ITER
        )
        return {
            "id": ids,
            "label": labels,
            "resp": [resp[i][labels[i]] for i in range(len(ids))],
        }

    return _per_group_cluster(points, "label int, resp double", fn)
