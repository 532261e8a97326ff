"""Physical-plan regression tests: the plans we designed are the
plans Catalyst actually picks (shuffle counts, broadcasts, pushdown,
whole-stage codegen). Failures here mean a rewrite silently
introduced an extra shuffle or lost a broadcast — the 100x-scale
regressions correctness tests can't see."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sonar_spark import datagen
from sonar_spark.config import AsofConfig, FrameConfig
from sonar_spark.operators.asof import asof_join
from sonar_spark.operators.features import frame_features_arrow
from sonar_spark.operators.topk import knn_bruteforce


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_featurize_is_narrow(spark):
    """Featurize must be shuffle-free: scan -> mapInArrow, nothing
    else (SURVEY: frame fan-out is a narrow transformation)."""
    toks = datagen.token_table(spark, n_docs=50)
    plan = _plan(frame_features_arrow(toks, FrameConfig()))
    assert "Exchange" not in plan, plan


def _asof_union_inputs(spark):
    left = datagen.token_table(spark, n_docs=20).select(
        F.col("doc_id").alias("entity"), F.col("n_tok").cast("long").alias("ts")
    )
    return left, datagen.catalog_table(spark, n_entities=4)


def test_asof_union_broadcasts_small_catalog(spark, probe_side):
    """With a reference side under autoBroadcastJoinThreshold the union
    as-of strategy is one broadcast hash join inside the left side's
    stage: the left rows reach it with no exchange and no sort (only
    the reference rows are shuffled, by the interval window)."""
    j = asof_join(*_asof_union_inputs(spark), strategy="union")
    probe = probe_side(j)
    assert probe is not None, _plan(j)
    assert not any(n.startswith("Exchange") or n == "Sort" for n in probe), _plan(j)


def test_asof_union_single_shuffle(spark, no_broadcast):
    """Without broadcasts the union as-of strategy costs exactly ONE
    shuffle (the window sort-merge on the entity key)."""
    plan = _plan(asof_join(*_asof_union_inputs(spark), strategy="union"))
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
    ]
    assert len(shuffles) == 1, plan


def test_knn_broadcasts_catalog(spark):
    """kNN must broadcast the catalog side — no shuffle for the join
    itself (only the per-query top-k window shuffles)."""
    emb = datagen.token_table(spark, n_docs=30).select(
        F.col("doc_id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), i -> cast(n_tok * i as double))").alias(
            "embedding"
        ),
    )
    plan = _plan(knn_bruteforce(emb.limit(5), emb))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_filter_pushdown_to_scan(spark, sf_dir):
    """A filtered parquet read must push the predicate into the scan
    (PushedFilters) and prune columns (ReadSchema)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.where(F.col("event_type") == "purchase").select("event_id", "value")
    plan = _plan(q)
    assert "PushedFilters: [" in plan and "event_type" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema, read_schema


def test_agg_has_mapside_partial(spark, sf_dir):
    """groupBy aggregations must do map-side partial aggregation
    (combine before the shuffle), and the scan must be vectorized."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(F.avg("value"))
    plan = _plan(agg)
    assert "partial_avg" in plan, plan
    assert "Batched: true" in plan, plan


def test_asof_bucketed_spreads_hot_entity(spark):
    """Skew design property: one hot entity's rows land in multiple
    partitions (bucket splitting), unlike the union strategy where a
    window partition is one task."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [("hot", int(t), 0.0) for t in rng.integers(0, 1 << 16, size=2000)]
    left = spark.createDataFrame(rows, "entity string, ts long, val double")
    right = spark.createDataFrame(
        [("hot", 10, 0, [1.0])],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    out = asof_join(
        left, right, cfg=AsofConfig(bucket_width=4096), strategy="bucketed"
    )
    # count distinct partitions that carry rows of the hot entity
    n_parts = (
        out.select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert n_parts > 1, "hot entity not spread across partitions"


def test_asof_bucketed_is_jvm_only(spark):
    """The bucketed strategy's hot path must contain no Python
    evaluation (mapInPandas/ArrowEval) — it is a pure window plan."""
    left = spark.createDataFrame(
        [("e", i, 0.0) for i in range(50)], "entity string, ts long, val double"
    )
    right = spark.createDataFrame(
        [("e", 10, 0, [1.0])],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    plan = _plan(
        asof_join(left, right, cfg=AsofConfig(bucket_width=1024),
                  strategy="bucketed")
    )
    assert "Python" not in plan and "MapInPandas" not in plan, plan


def test_featurize_job_writes_the_default_feature_columns(spark, tmp_path):
    """FeaturizeJob writes the frame kernel's default feature set
    (FeatureConfig()): every feature_cols column lands in the written
    parquet, and the opt-in bark columns do not."""
    from sonar_spark import datagen
    from sonar_spark.config import FeatureConfig, FrameConfig
    from sonar_spark.operators.features import feature_cols
    from sonar_spark.plans.pipeline import FeaturizeJob

    toks = datagen.token_table(spark, n_docs=40, partitions=2)
    job = FeaturizeJob(
        str(tmp_path / "out"),
        n_buckets=2,
        frame_cfg=FrameConfig(window=64, hop=16),
    )
    job.run(toks)
    cols = set(spark.read.parquet(str(tmp_path / "out")).columns)
    assert set(feature_cols(FeatureConfig())) <= cols
    assert any(c.startswith("mfcc") for c in cols)
    assert not any(c.startswith("bark") for c in cols)


def test_feature_store_write_once_and_values(spark, tmp_path):
    """FeatureStore.get builds exactly once (write-once via atomic
    rename), returns identical rows on re-get, and a second builder
    for the same name is never invoked."""
    from sonar_spark.plans.pipeline import FeatureStore, store_key

    st = FeatureStore(spark, str(tmp_path / "store"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(
            F.col("id"), (F.col("id") * 2.5).alias("v")
        )

    a = st.get("t1", build).orderBy("id").collect()
    b = st.get("t1", build).orderBy("id").collect()
    assert calls["n"] == 1
    assert a == b and len(a) == 10 and a[3]["v"] == 7.5

    def boom():
        raise AssertionError("builder must not run for existing table")

    c = st.get("t1", boom).orderBy("id").collect()
    assert c == a

    # store_key: same inputs -> same key; different version -> new key
    k1 = store_key(str(tmp_path), "v1")
    assert k1 == store_key(str(tmp_path), "v1")
    assert k1 != store_key(str(tmp_path), "v2")


def test_store_key_follows_the_source(tmp_path, monkeypatch):
    """The feature store's version is a digest of the engine source: the
    same for two copies of one tree, new after a one-byte change to
    plans/feature_tables.py."""
    import shutil

    import __spark_entry__ as E

    repo = os.path.dirname(os.path.abspath(E.__file__))
    trees = [tmp_path / name for name in ("a", "b", "c")]
    for t in trees:
        shutil.copytree(
            os.path.join(repo, "sonar_spark"),
            t / "sonar_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        shutil.copy(os.path.join(repo, "__spark_entry__.py"), t)
    tables = trees[2] / "sonar_spark" / "plans" / "feature_tables.py"
    tables.write_bytes(tables.read_bytes() + b" ")

    def digest(root):
        monkeypatch.setattr(E, "_ROOT", str(root))
        E._source_digest.cache_clear()
        return E._source_digest()

    try:
        a, b, c = (digest(t) for t in trees)
    finally:
        monkeypatch.undo()
        E._source_digest.cache_clear()
    assert a == b
    assert a != c


def test_feature_store_job_build_all_and_resume(spark, tmp_path, sf_dir):
    """jobs/feature_store_job path: build_all materializes the named
    tables write-once; a re-run touches nothing (resume semantics) and
    returns the same counts."""
    from sonar_spark.plans.feature_tables import build_all
    from sonar_spark.plans.pipeline import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    c1 = build_all(spark, sf_dir, store, ["lpc4", "formants"])
    assert set(c1) == {"lpc4", "formants"} and c1["lpc4"] > 0
    import os

    mt = {
        t: os.path.getmtime(store.path(t)) for t in c1
    }
    c2 = build_all(spark, sf_dir, store, ["lpc4", "formants"])
    assert c2 == c1
    for t in c1:
        assert os.path.getmtime(store.path(t)) == mt[t]


def test_feature_store_records_the_committed_row_count(spark, tmp_path, sf_dir):
    """Each table's sidecar holds the row count observed during its
    write, and it is the count of the committed parquet."""
    from sonar_spark.plans.feature_tables import build_all
    from sonar_spark.plans.pipeline import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    counts = build_all(spark, sf_dir, store, ["lpc4", "formants", "hist_grid"])
    recorded = {m["table"]: m["rows"] for m in store.metrics()}
    assert set(recorded) >= set(counts)
    for t, n in recorded.items():
        assert n == spark.read.parquet(store.path(t)).count(), t
    assert counts == {t: recorded[t] for t in counts}


def test_observed_metrics_of_pruned_and_unrun_frames(spark, monkeypatch):
    """observed_metrics returns what the action observed, {} when the
    optimizer pruned the observed node (Spark then delivers an empty
    row), and raises instead of waiting on a frame no action ran."""
    from pyspark.sql import Observation

    from sonar_spark.plans import pipeline

    o = Observation()
    spark.range(5).observe(o, F.count("*").alias("n")).collect()
    assert pipeline.observed_metrics(o) == {"n": 5}
    o = Observation()
    spark.range(5).observe(o, F.count("*").alias("n")).where("false").collect()
    assert pipeline.observed_metrics(o) == {}
    o = Observation()
    spark.range(5).observe(o, F.count("*").alias("n"))
    monkeypatch.setattr(pipeline, "_OBSERVE_TIMEOUT_S", 0.2)
    with pytest.raises(TimeoutError):
        pipeline.observed_metrics(o)


def test_backfill_and_grid_features_share_one_entity_exchange(spark):
    """backfill_grid costs exactly 2 shuffles (tiny grid aggregate +
    the entity window); grid_features must add ZERO more — its lag
    window rides the same (entity, grid_ts) sort."""
    from sonar_spark.operators.backfill import backfill_grid, grid_features

    ev = spark.createDataFrame(
        [(i, i * 37 % 1000, float(i % 7), i % 3) for i in range(200)],
        "event_id long, tsec long, value double, user_id long",
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "value",
        "user_id",
    )
    bf = backfill_grid(ev)
    n_bf = _plan(bf).count("Exchange")
    n_gf = _plan(grid_features(bf)).count("Exchange")
    assert n_bf == 2, n_bf
    assert n_gf == n_bf, (n_gf, n_bf)


def test_weighted_sample_two_exchanges_one_scan(spark, sf_dir):
    """E-S sampling: one scan of documents, one groupBy exchange
    (per-doc max), one window exchange (per-stratum top-k)."""
    from sonar_spark.functions.sampling import weighted_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(weighted_sample(docs))
    assert plan.count("Exchange") == 2, plan
    assert plan.count("Scan parquet") == 1, plan


def test_dense_index_no_global_sort(spark):
    """global_dense_index must never plan a single-partition global
    sort over the data (the whole point vs row_number() OVER ()):
    no Exchange SinglePartition on the big side — only the tiny
    bucket-count table may collapse."""
    from sonar_spark.operators.negatives import global_dense_index

    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    plan = _plan(global_dense_index(df))
    # the data-side windows must be hash-partitioned by bucket
    assert "hashpartitioning(__b" in plan, plan


def test_asof_nearest_fused_single_data_exchange(spark):
    """The fused nearest as-of must cost ONE data exchange (both
    direction windows ride the same entity shuffle) — the reason it
    replaced the composed two-pass + re-join plan."""
    from sonar_spark import datagen
    from sonar_spark.operators.asof import asof_join_nearest_fused

    left = datagen.token_table(spark, n_docs=20).select(
        F.col("doc_id").alias("user_id"),
        F.col("n_tok").cast("long").alias("ts_sec"),
    )
    right = (
        datagen.catalog_table(spark, n_entities=4)
        .withColumnRenamed("entity", "user_id")
        .withColumnRenamed("ref_features", "ref_value")
    )
    plan = _plan(asof_join_nearest_fused(left, right))
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
    ]
    assert len(shuffles) == 1, plan
