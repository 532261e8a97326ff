"""MinHash / SimHash fingerprints + LSH near-duplicate detection
(SURVEY §2.7 Jaccard / M4; the compact-hash fingerprint role sketched
at reference fingerprint/comparison.go:74,91-106, estimating the
exact Jaccard of algorithms/stats/distance.go:198-216).

Physical design for 10^12 docs:
- signatures: narrow mapInArrow over the token table (no shuffle);
  one (a*x+b) mod p pass + minimum.reduceat per hash function.
- candidate pairs: explode to (band_idx, band_hash) — ONE shuffle on
  the band key — then within-bucket self-join. Bucket sizes are
  bounded by construction (identical band hash ≈ near-dups), so the
  quadratic blow-up stays local; a size cap guards pathological
  buckets (all-identical corpora).
- verification: signature agreement (mean of equal minhashes) is an
  unbiased Jaccard estimate; exact verification (verify_pairs) joins
  the shingle sets back only for surviving pairs (tiny fraction).
  near_dup_pairs (MinHash -> LSH -> verify) and near_dup_labels
  (+ connected components) are the one near-dup chain every dedup
  caller runs — the queries, CurationJob's label table and, through
  verify_pairs, incremental_dedup.
"""

from __future__ import annotations

from collections import Counter
from hashlib import blake2b

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import kernels
from ..config import MinHashConfig
from ..session import arrow_frame, map_rows

_SIG_SCHEMA = (
    "doc_id string, source string, n_tok int, minhash array<long>, "
    "simhash long, bands array<long>"
)
# token-shingle size of the MinHash / SimHash signatures and the seed
# of the MinHash permutations
_SHINGLE_K = 4
_MINHASH_SEED = 42


def exact_dedup(df: DataFrame, fingerprint_col) -> DataFrame:
    """Exact deduplication by content fingerprint (hash-groupBy): keep
    the first row per fingerprint by doc_id (deterministic), drop
    the rest. One shuffle on the fingerprint.

    fingerprint_col: a Column expression (e.g.
    functions.text.doc_fingerprint(F.col('text')))."""
    w = Window.partitionBy(fingerprint_col).orderBy(F.col("doc_id").asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_fingerprints(
    df: DataFrame, cfg: MinHashConfig = MinHashConfig()
) -> DataFrame:
    """Token table -> (doc_id, source, n_tok, minhash[num_hashes],
    simhash, bands[bands]) — one narrow Arrow pass."""
    nh, nb = cfg.num_hashes, cfg.bands
    if nh % nb != 0:
        raise ValueError("num_hashes must be divisible by bands")

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            vals, lens = kernels.list_flat(
                batch.column(batch.schema.get_field_index("tokens"))
            )
            vals = vals.astype(np.int64)
            sig = kernels.minhash_batch(
                vals, lens, _SHINGLE_K, nh, _MINHASH_SEED
            )
            sim = kernels.simhash_batch(vals, lens, _SHINGLE_K)
            bh = kernels.band_hashes(sig, nb)
            n = len(lens)
            sig_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * nh),
                pa.array(sig.ravel()),
            )
            band_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n + 1, dtype=np.int32) * nb),
                pa.array(bh.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    batch.column(batch.schema.get_field_index("source")),
                    batch.column(batch.schema.get_field_index("n_tok")),
                    sig_arr,
                    pa.array(sim),
                    band_arr,
                ],
                names=["doc_id", "source", "n_tok", "minhash", "simhash", "bands"],
            )

    return df.select("doc_id", "tokens", "n_tok", "source").mapInArrow(
        gen, schema=_SIG_SCHEMA
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    cfg: MinHashConfig = MinHashConfig(),
    *,
    with_est: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs with estimated Jaccard.

    Output: (doc_a, doc_b[, est_jaccard]) with doc_a < doc_b,
    distinct.  est_jaccard = fraction of agreeing minhash components
    (unbiased estimator of shingle-set Jaccard). One shuffle on the
    band key; buckets larger than 1000 are dropped (logged
    upstream) — at web scale a bucket of identical band-hash >1000
    docs means an exact-dup cluster better handled by the exact-dedup
    pass.  with_est=False skips attaching the signature arrays to the
    survivors (r6) — every production caller consumes only the pair
    ids and verifies with exact Jaccard, so the two signature joins
    are pure overhead there."""
    # r6 (guide §2.3 "shuffle keys and metadata instead of
    # payloads"): the band explode used to CARRY the 64-long minhash
    # array — a 32x amplification of a ~512 B payload through the
    # bucket-cap window AND both self-join sides.  Now only
    # (doc_id, band_idx, band_hash) rides the band shuffle; the
    # signatures are attached to the DEDUPED surviving pairs by two
    # joins against the (narrow, per-doc) signature table, which AQE
    # broadcasts when it fits.  est_jaccard arithmetic is unchanged.
    b = sig_df.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    # cap pathological buckets
    counted = b.withColumn(
        "__n", F.count("*").over(Window.partitionBy("band_idx", "band_hash"))
    ).where(F.col("__n") <= 1000)
    left = counted.select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col("doc_id").alias("doc_a"),
    )
    right = counted.select(
        F.col("band_idx"),
        F.col("band_hash"),
        F.col("doc_id").alias("doc_b"),
    )
    pairs = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    if not with_est:
        return pairs
    mh = sig_df.select("doc_id", "minhash")
    pairs = pairs.join(
        mh.select(
            F.col("doc_id").alias("doc_a"), F.col("minhash").alias("__mh_a")
        ),
        "doc_a",
    ).join(
        mh.select(
            F.col("doc_id").alias("doc_b"), F.col("minhash").alias("__mh_b")
        ),
        "doc_b",
    )
    est = F.aggregate(
        F.zip_with("__mh_a", "__mh_b", lambda x, y: (x == y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size("__mh_a")
    # explicit order: the using-column joins above hoist doc_b first
    return pairs.select(
        "doc_a", "doc_b", est.alias("est_jaccard")
    )


_MAX_HAMMING = 3


def simhash_near_duplicates(sig_df: DataFrame) -> DataFrame:
    """SimHash near-dups: pairs whose 64-bit signatures differ in at
    most max_hamming bits. Candidate generation by exact match on
    4 rotated 16-bit blocks (any pair within hamming 3 of 64 bits
    shares at least one identical 16-bit block by pigeonhole).
    Output (doc_a, doc_b, hamming)."""
    blocks = [
        (F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(0xFFFF)).alias(
            f"b{i}"
        )
        for i in range(4)
    ]
    s = sig_df.select("doc_id", "simhash", *blocks)
    out = None
    for i in range(4):
        l = s.select(
            F.col(f"b{i}").alias("key"),
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("__sa"),
        )
        r = s.select(
            F.col(f"b{i}").alias("key"),
            F.col("doc_id").alias("doc_b"),
            F.col("simhash").alias("__sb"),
        )
        p = l.join(r, "key").where(F.col("doc_a") < F.col("doc_b")).drop("key")
        out = p if out is None else out.unionByName(p)
    ham = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        out.dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= _MAX_HAMMING)
        .drop("__sa", "__sb")
    )


def _drop_checkpoint(df: DataFrame) -> None:
    """Release the blocks of a localCheckpoint()ed frame now.  Spark
    otherwise unpersists them only once the JVM garbage-collects the
    RDD, so a driver loop would pile up one persisted RDD per round."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


# Largest symmetrized edge table (rows, both directions of every edge)
# that connected_components labels on the driver; above it the
# distributed rounds run.  Measured on local[4], string ids, median of
# 3 warm runs: a random graph of 2^20 edges (2,097,146 rows, 906,442
# nodes, 18 rounds) took 12.6 s on the driver path and 195.8 s in
# rounds, with no crossover at 2^12 or 2^16 edges either; the Python
# driver process of that measurement peaked at 406 MB RSS.
_CEIL = 1 << 21
# rounds connected_components runs before it gives up unconverged
_MAX_ITER = 25


def _check_converged(changed: int) -> None:
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ITER} rounds: "
            f"the last round still changed {changed} labels"
        )


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over a (doc_a, doc_b) near-dup pair graph
    — the dedup GROUPING step the pair operators stop short of: every doc gets a
    component label (the minimum doc id reachable from it), so a
    curation pipeline can keep one canonical doc per duplicate
    cluster.

    Algorithm: iterative min-label propagation with pointer jumping
    (the hash-to-min family; Rastogi et al., "Finding Connected
    Components in Map-Reduce in Logarithmic Rounds").  Each round
    (a) takes the min label over each node's neighbors and (b)
    jumps labels through their own current label, halving the
    effective component diameter.  Near-dup LSH graphs are dense
    low-diameter clusters, so 2-3 rounds in practice; the loop stops
    at the first round that changes no label and raises RuntimeError
    if _MAX_ITER rounds pass without one.

    Plan shape: the de-duplicated, symmetrized edge table is built
    from one pass over the input (both directions of an edge from
    one row; a union would evaluate the input plan twice).  One
    bounded Arrow collect reads at most _CEIL + 1 of its rows:
    - at most _CEIL rows (every graph the queries, the curation job
      and the store build label): the rounds run on the driver
      (kernels.min_label_components) over node codes in Spark's sort
      order, and the labels come back as a driver-built DataFrame
      (session.arrow_frame) — no round trip per round, and no
      checkpoint;
    - more: the edge table is evaluated a second time and
      materialized with localCheckpoint, and the rounds run
      distributed, O(log d) of them for a component diameter d.  The
      initial labels (comp = node) derive from the checkpointed
      table, which later stages read at its AQE-coalesced partition
      count (a persist()ed plan is not coalesced and would fan every
      round out to the full shuffle width).  Each round is one join
      (neighbor labels), one aggregation (min label, carrying the
      node's previous label through as max(__old) over its own row —
      neighbor rows hold null) and one self-join (pointer jumping),
      checkpointed at the end.
    Both paths run the same rounds, so they return the same labels.

    Input edges are de-duplicated and symmetrized internally;
    self-loops and edges with a null endpoint are dropped; node
    values keep their input type.  Output: (node, comp); singleton
    nodes appear with comp == node."""
    a, b = F.col("doc_a"), F.col("doc_b")
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(a.alias("a"), b.alias("b")),
                    F.struct(b.alias("a"), a.alias("b")),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    head = sym.limit(_CEIL + 1).toArrow()
    if head.num_rows <= _CEIL:
        return _driver_components(sym, head)
    # localCheckpoint also truncates lineage: the rounds below
    # reference it (and their own previous output) without the plan
    # deepening round over round, which would otherwise blow the
    # analyzer stack and re-plan the whole history at scale
    sym = sym.localCheckpoint(eager=True)
    no_old = F.lit(None).cast(sym.schema["a"].dataType)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    prev = None
    for _ in range(_MAX_ITER):
        # (a) min over own label and neighbors' labels; the node's
        # own row carries its previous label for the convergence count
        nbr = sym.join(
            labels.select(F.col("node").alias("b"), F.col("comp").alias("__nc")),
            "b",
        ).select(
            F.col("a").alias("node"),
            F.col("__nc").alias("comp"),
            no_old.alias("__old"),
        )
        stepped = (
            labels.select("node", "comp", F.col("comp").alias("__old"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("__old").alias("__old"))
        )
        # (b) pointer jumping: comp <- label(comp)
        jumped = (
            stepped.join(
                stepped.select(
                    F.col("node").alias("comp"),
                    F.col("comp").alias("__cc"),
                ),
                "comp",
                "left",
            )
            .select(
                "node",
                F.coalesce("__cc", "comp").alias("comp"),
                "__old",
            )
            .localCheckpoint(eager=True)
        )
        changed = jumped.where(F.col("comp") != F.col("__old")).count()
        if prev is not None:
            _drop_checkpoint(prev)
        prev = jumped
        labels = jumped.drop("__old")
        if changed == 0:
            break
    _drop_checkpoint(sym)
    if changed:
        _drop_checkpoint(prev)
    _check_converged(changed)
    return labels.select("node", "comp")


def _driver_components(sym: DataFrame, head) -> DataFrame:
    """connected_components' driver path over the collected edge table
    ``head`` (pyarrow, columns a, b): code the nodes in ascending order
    — Arrow orders strings by their UTF-8 bytes, as Spark does, so the
    min code is Spark's min node — label the codes with
    kernels.min_label_components and decode.  The labels ship as one
    row of arrays (session.arrow_frame)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    nodes = pc.unique(head.column("a"))
    nodes = nodes.take(pc.sort_indices(nodes))
    comp, changed = kernels.min_label_components(
        pc.index_in(head.column("a"), value_set=nodes).to_numpy(),
        pc.index_in(head.column("b"), value_set=nodes).to_numpy(),
        len(nodes),
        _MAX_ITER,
    )
    _check_converged(changed)
    t = sym.schema["a"].dataType
    return arrow_frame(
        sym.sparkSession,
        {"node": nodes, "comp": nodes.take(pa.array(comp))},
        {"node": t, "comp": t},
    )


def verify_pairs(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs — the estimand
    MinHash approximates (distance.go:198-216).  cand (doc_a, doc_b)
    joins the (doc_id, sh) shingle-set tables sh_a on doc_a and sh_b
    on doc_b (a symmetric caller passes one table twice); output
    (doc_a, doc_b, jaccard = round(|A ∩ B| / |A ∪ B|, 6)) keeping
    jaccard >= threshold.  The shingle tables are joined back only
    for surviving candidates, so the set arithmetic is linear in the
    candidate count."""
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(
            sh_a.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def near_dup_pairs(
    tokens: DataFrame, shingles: DataFrame, cfg: MinHashConfig, threshold: float
) -> DataFrame:
    """The near-dup pair chain: MinHash signatures of the token table
    -> banded-LSH candidates (one shuffle on the band key) -> exact
    shingle-Jaccard verification against the (doc_id, sh) table
    (verify_pairs).  Output (doc_a, doc_b, jaccard), doc_a < doc_b."""
    sigs = minhash_fingerprints(tokens, cfg)
    cand = lsh_candidate_pairs(sigs, cfg, with_est=False)
    return verify_pairs(cand, shingles, shingles, threshold)


def near_dup_labels(
    tokens: DataFrame, shingles: DataFrame, cfg: MinHashConfig, threshold: float
) -> DataFrame:
    """Near-dup GROUP labels: connected components over the
    near_dup_pairs graph (labelled on the driver in one collect when
    the verified edge table is small, in distributed rounds
    otherwise), left-joined back onto every doc of the token table.
    Output (doc_id, component); component = the smallest doc id of
    the duplicate cluster, a singleton's own id."""
    cc = connected_components(near_dup_pairs(tokens, shingles, cfg, threshold))
    return (
        tokens.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("component")
        )
    )


_NGRAM_K = 4
_WINNOW_W = 4


def winnow_fingerprints(words_df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the MOSS scheme; the rolling-hash fingerprint
    family next to MinHash/SimHash, reference
    fingerprint/comparison.go:74 compact-hash role).

    Per doc: hash every k-token shingle (md5-prefix — identical in
    Spark and DuckDB, the cross-engine convention), then slide a
    window of _WINNOW_W consecutive hashes and select each window's
    minimum, ties to the RIGHTMOST occurrence (the paper's rule);
    the distinct selected (hash, position) pairs are the doc's
    fingerprints.  Guarantee: any shared token run of length
    >= w + k - 1 between two docs yields at least one shared
    fingerprint; expected density 2/(w+1).

    Physical plan: one shuffle (window partitionBy doc) — shingling
    and hashing are narrow projections, the per-window argmin is a
    running ``min(struct(hash, -pos))`` window frame in whole-stage
    codegen, no UDFs.  Docs shorter than k tokens hash their whole
    text as one shingle; shingle counts shorter than w winnow as a
    single window (clamped frame).

    Returns (doc_id, fp long, pos long) — pos is the 1-based shingle
    index the fingerprint was selected at."""
    words = F.col("words")
    n_sh = F.greatest(F.size(words) - (_NGRAM_K - 1), F.lit(1))
    shingled = words_df.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(words, i, _NGRAM_K)),
            )
        ).alias("__p0", "__sh"),
    )
    hashed = shingled.select(
        "doc_id",
        (F.col("__p0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("__sh"), 1, 8), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    bypos = Window.partitionBy("doc_id").orderBy("pos")
    sel = hashed.select(
        "doc_id",
        "pos",
        F.min(F.struct(F.col("__h"), (-F.col("pos")).alias("__np")))
        .over(bypos.rowsBetween(0, _WINNOW_W - 1))
        .alias("__s"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("__ns"),
    )
    return (
        sel.where(
            F.col("pos") <= F.greatest(F.col("__ns") - (_WINNOW_W - 1), F.lit(1))
        )
        .select(
            "doc_id",
            F.col("__s.__h").alias("fp"),
            (-F.col("__s.__np")).cast("long").alias("pos"),
        )
        .distinct()
    )


_MAX_DOC_FREQ = 8
_MIN_SHARED = 3


def fingerprint_matches(fps: DataFrame) -> DataFrame:
    """Cross-doc matches over a winnowing fingerprint table: pairs of
    docs sharing >= min_shared fingerprints, with the shared count
    and the containment-style overlap n_shared / min(|fp_a|, |fp_b|).

    Scale path: fingerprints occurring in more than _MAX_DOC_FREQ
    docs are dropped before pairing (the standard stop-fingerprint
    cap — boilerplate shingles match everything and carry no
    signal), which bounds every join bucket at max_doc_freq rows, so
    candidate pairs are linear in the fingerprint table, never
    quadratic in the corpus.  Per-doc fingerprint counts (the
    overlap denominator) are computed on the UNCAPPED table — a doc
    property, independent of the cap.

    Plan shape: both counts are window aggregates over ONE
    derivation of the fingerprint table (doc-key then fp-key
    shuffle), annotated before the self-join so the denominators
    ride the join rows — no join-back.  The annotated table is
    persisted: a self-join is inherently two consumers, and without
    it Catalyst re-derives the whole upstream fingerprint subtree
    once per branch (at 100x this table is a landed store/Iceberg
    artifact, exactly like the dedup label table, and the persist
    becomes that materialization)."""
    docfp = fps.select("doc_id", "fp").distinct()
    ann = (
        docfp.withColumn(
            "__n_fp", F.count("*").over(Window.partitionBy("doc_id"))
        )
        .withColumn(
            "__df", F.count("*").over(Window.partitionBy("fp"))
        )
        .where(F.col("__df") <= _MAX_DOC_FREQ)
        .select("doc_id", "fp", "__n_fp")
        .persist()
    )
    a = ann.select(
        "fp", F.col("doc_id").alias("doc_a"), F.col("__n_fp").alias("__na")
    )
    b = ann.select(
        "fp", F.col("doc_id").alias("doc_b"), F.col("__n_fp").alias("__nb")
    )
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.max("__na").alias("__na"),
            F.max("__nb").alias("__nb"),
        )
        .where(F.col("n_shared") >= _MIN_SHARED)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("__na", "__nb"), 6
            ).alias("overlap"),
        )
    )


def _gram_hashes(ws, k: int, m: int) -> list[int]:
    """Stable signed blake2b-64 hashes of the space-joined word k-grams
    of ``ws`` starting at positions 0..m-1."""
    ws = list(ws)
    return [
        int.from_bytes(
            blake2b(
                " ".join(ws[i:i + k]).encode(),
                digest_size=8,
            ).digest(),
            "big",
            signed=True,
        )
        for i in range(m)
    ]


def _gram_hash_stream(docs: DataFrame, *, k: int, positions: bool) -> DataFrame:
    """Arrow kernel emitting the token k-gram stream of every doc
    with >= k tokens as STABLE 64-bit hashes (blake2b-8 of the
    space-joined gram — process-independent, unlike Python's builtin
    hash) instead of gram strings (r6, guide §2.3 'shuffle narrower
    types' + §4.2): the Catalyst form built each gram with an
    interpreted transform/concat_ws lambda and shuffled ~30-byte
    strings; this emits 8-byte keys from vectorized-ish Python and
    cuts both the per-row compute and the shuffle width.

    positions=True -> (id, pos, h) one row per gram instance
    (1-based pos, the substring_spans contract); False -> (id, h, c)
    per-doc gram-hash counts (the ngram_novelty contract — map-side
    dedup before any shuffle).

    Hash-collision safety: downstream consumers group/join on h where
    the expression forms used the gram string; a 64-bit collision
    between two distinct grams in one corpus could change results.
    tests/test_fingerprint_gram_kernels.py certifies output equality
    vs the retained *_expr forms on the real corpora (and the DuckDB
    value oracles replay the string form end-to-end); the birthday
    bound at the ~1e6-distinct-gram scale of these corpora is ~1e-7.
    """
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def hashes(ws):
        return _gram_hashes(ws, k, len(ws) - k + 1)

    if positions:
        def fn(did, ws):
            return [(did, i + 1, h) for i, h in enumerate(hashes(ws))]

        schema = f"doc_id {id_type}, pos long, h long"
    else:
        def fn(did, ws):
            return [(did, h, c) for h, c in Counter(hashes(ws)).items()]

        schema = f"doc_id {id_type}, h long, c long"
    return map_rows(docs.select("doc_id", "words"), fn, schema)


def shingle_hash_table(docs: DataFrame) -> DataFrame:
    """(id, sh array<long>): each doc's DISTINCT word-k-gram shingles
    as stable blake2b-64 hashes — the r6 drop-in for the Catalyst
    string-shingle arrays at every exact-Jaccard VERIFICATION site
    (guide §2.3/§4.2): |A ∩ B| and |A ∪ B| over the hashed sets equal
    the string-set sizes whenever the hash is collision-free on the
    corpus (certified per-corpus by
    tests/test_fingerprint_gram_kernels.py::test_shingle_hash_jaccard
    _equals_string, plus every consumer's DuckDB value oracle, which
    replays the STRING form end-to-end), while the interpreted
    transform+concat_ws build and the string-array intersect/union
    disappear.  Shingle rule matches functions.text.ngrams_ws:
    positions 1..max(n-k+1, 1), short docs yield one clamped
    shingle, duplicates dropped.  NOT for consumers whose VALUES
    depend on the shingle bytes (the Bloom md5 bit table keeps
    strings)."""
    k = 4
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def fn(did, ws):
        m = max(len(ws) - (k - 1), 1)
        return [(did, list(dict.fromkeys(_gram_hashes(ws, k, m))))]

    return map_rows(
        docs.select("doc_id", "words"), fn, f"doc_id {id_type}, sh array<long>"
    )


def substring_spans(docs: DataFrame) -> DataFrame:
    """Exact duplicated-substring detection — the span-level dedup
    from Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): a token k-gram occurring more than once
    corpus-wide (across docs OR repeated inside one doc) marks its k
    covering tokens as duplicated text; overlapping marked k-grams
    merge into maximal spans.  This is the op document-level dedup
    (exact_dedup / minhash) cannot express: boilerplate shared by
    otherwise-distinct pages.  The scalable formulation replaces the
    paper's suffix array with k-gram counting: one shuffle to count
    k-grams, one per-doc window pass to merge spans — no pairwise
    stage, no suffix structure, so it survives 100 TB (the paper's
    own follow-ups, e.g. RedPajama-v2, ship exactly this relational
    form).

    Per doc: number of maximal duplicated spans, duplicated-token
    count and fraction, and the longest span — the columns a curation
    policy trims or drops on.

    r6 plan: the gram stream comes from the _gram_hash_stream Arrow
    kernel as 8-byte hashes (was: interpreted struct/concat_ws
    lambdas + ~30-byte string shuffle keys), the dup table joins back
    on the hash (AQE broadcasts it), and only (id, pos) rows reach
    the per-doc window.  Output-equality vs the retained string form
    is certified by tests/test_fingerprint_gram_kernels.py.
    """
    words = F.col("words")
    base = docs.select(
        "doc_id", F.size(words).cast("long").alias("n_tokens")
    )
    grams = _gram_hash_stream(
        docs, k=_NGRAM_K, positions=True
    )
    dup = grams.groupBy("h").agg(F.count("*").alias("__tot")).where(
        F.col("__tot") >= 2
    )
    hits = grams.join(dup.select("h"), "h").select("doc_id", "pos")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.select(
        "doc_id",
        "pos",
        # a new token run starts iff this gram's coverage [pos, pos+k-1]
        # neither overlaps nor touches the previous one's: pos > prev + k
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") > F.lag("pos").over(w_doc) + _NGRAM_K),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new"),
    )
    spans = flagged.select(
        "doc_id",
        "pos",
        F.sum("__new").over(w_doc).alias("__span"),
    ).groupBy("doc_id", "__span").agg(
        (F.max("pos") + (_NGRAM_K - 1) - F.min("pos") + 1).cast("long").alias("__len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("__len").cast("long").alias("dup_tokens"),
        F.max("__len").cast("long").alias("longest_dup_span"),
    )
    out = base.join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("longest_dup_span", F.lit(0)).cast("long").alias(
            "longest_dup_span"
        ),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram novelty vs the corpus prefix — a
    contribution/curriculum score: a k-gram POSITION is novel iff no
    document with a smaller id contains that k-gram (ties: the
    introducing doc counts all its own occurrences as novel).  Docs
    made of already-seen k-grams score near 0 — the incremental-value
    signal an ingestion pipeline uses to prioritize or drop late
    near-boilerplate arrivals.

    Shape (r6): per-doc gram-hash COUNTS from the _gram_hash_stream
    Arrow kernel (8-byte keys, deduped per doc before any shuffle —
    was: interpreted concat_ws lambdas exploding every instance as a
    ~30-byte string) -> min(doc_id) per hash (one narrow shuffle) ->
    join back on the hash (the exchange is reused) -> per-doc
    count-weighted aggregate.  No pairwise stage; the first-seen
    table is the only state, which is exactly what an incremental
    ingest keeps anyway.  Docs shorter than k have no grams and
    score novelty 1.0 by convention.  Output-equality vs the
    retained string form: tests/test_fingerprint_gram_kernels.py.
    """
    words = F.col("words")
    base = docs.select(
        "doc_id", F.size(words).cast("long").alias("n_tokens")
    )
    gd = _gram_hash_stream(
        docs, k=_NGRAM_K, positions=False
    )
    first = gd.groupBy("h").agg(F.min("doc_id").alias("__first"))
    per_doc = (
        gd.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("__first") == F.col("doc_id"), F.col("c"))
                .otherwise(F.lit(0))
            ).cast("long").alias("n_novel"),
        )
    )
    out = base.join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.coalesce(
            F.round(F.col("n_novel") / F.col("n_grams"), 6), F.lit(1.0)
        ).alias("novelty_frac"),
    )


_THRESHOLD = 0.8


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingest dedup — the operational pattern at corpus
    scale: dedupe an incoming BATCH against the already-indexed
    corpus without ever re-deduping the corpus itself (a daily
    ingest joins against the standing fingerprint/shingle index; the
    corpus side here stands in for that materialized index, the
    FeatureStore dup_labels analog).

    Inputs: word-array tables (doc_id string, words array<string>).
    Per batch doc the output carries the exact-duplicate verdict
    (identical token stream: exact_of = lowest matching corpus doc,
    n_exact), the near-duplicate verdict (any corpus doc with
    4-shingle Jaccard >= threshold: best_match = highest-Jaccard,
    ties -> lowest corpus doc; best_jaccard at 6dp), and
    keep = neither.

    Plan: one md5-fingerprint equi-join for the exact pass; the near
    pass joins the two sides' distinct-shingle inverted indexes on
    the shingle key — candidates are CROSS-SIDE only (batch x
    corpus, never corpus x corpus: the index side is settled) —
    then verifies candidates with exact Jaccard (verify_pairs).

    `candidate_pairs` (b_id, c_id) replaces the shingle-index join
    with a caller-supplied candidate set — the banded-MinHash index
    path (minhash_fingerprints band join, recall-1.0-proven at this
    threshold in minhash_dedup): one shuffle on the band key,
    candidate volume bounded by band collisions instead of raw
    shingle collisions (which degenerate on a tiny-vocab corpus).
    Verification is identical either way, so with a recall-1
    candidate source the result is exactly the shingle-path result.
    """
    b = batch.select(
        F.col("doc_id").alias("b_id"),
        F.col("words").alias("b_words"),
        F.md5(F.array_join("words", " ")).alias("b_fp"),
    )
    c = corpus.select(
        F.col("doc_id").alias("c_id"),
        F.col("words").alias("c_words"),
        F.md5(F.array_join("words", " ")).alias("c_fp"),
    )

    exact = (
        b.select("b_id", "b_fp")
        .join(c.select("c_id", "c_fp"), F.col("b_fp") == F.col("c_fp"))
        .groupBy("b_id")
        .agg(
            F.min("c_id").alias("exact_of"),
            F.count("*").cast("long").alias("n_exact"),
        )
    )

    # r6: hashed shingle sets from the Arrow kernel (intersect/union
    # sizes equal the string form — the shingle_hash_table contract);
    # the exact md5 fingerprint above still hashes the full token
    # stream, so exact-dup detection is untouched
    bs = shingle_hash_table(batch)
    cs = shingle_hash_table(corpus)
    if candidate_pairs is not None:
        cand = candidate_pairs.select("b_id", "c_id").distinct()
    else:
        binv = bs.select(F.col("doc_id").alias("b_id"), F.explode("sh").alias("g"))
        cinv = cs.select(F.col("doc_id").alias("c_id"), F.explode("sh").alias("g"))
        cand = binv.join(cinv, "g").select("b_id", "c_id").distinct()
    verified = verify_pairs(
        cand.select(F.col("b_id").alias("doc_a"), F.col("c_id").alias("doc_b")),
        bs,
        cs,
        _THRESHOLD,
    ).select(
        F.col("doc_a").alias("b_id"),
        F.col("doc_b").alias("c_id"),
        F.col("jaccard").alias("j"),
    )
    wbest = Window.partitionBy("b_id").orderBy(
        F.col("j").desc(), F.col("c_id").asc()
    )
    best = (
        verified.withColumn("__rn", F.row_number().over(wbest))
        .where(F.col("__rn") == 1)
        .select(
            "b_id",
            F.col("c_id").alias("best_match"),
            F.col("j").alias("best_jaccard"),
        )
    )
    return (
        b.select(F.col("b_id").alias("doc_id"))
        .join(exact.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .join(best.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "exact_of",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            "best_match",
            "best_jaccard",
            (
                F.col("exact_of").isNull() & F.col("best_match").isNull()
            ).alias("keep"),
        )
    )
