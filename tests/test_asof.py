"""As-of join property tests: both strategies vs quadratic brute force;
zero temporal leakage; duplicate-ts tie-break; no-match nulls.

The union strategy has two plans: with a small reference side (every
test table here) the broadcast interval join, and with
autoBroadcastJoinThreshold = -1 the union plan ("union_shuffle",
through the no_broadcast fixture).  test_asof_paths_agree certifies
that they return the same rows."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

import __spark_entry__ as E
import golden
from sonar_spark import datagen
from sonar_spark.config import AsofConfig
from sonar_spark.operators.asof import asof_join
from tools.check_oracle import assert_matches_oracle

ASOF_QUERIES = [
    k for k in E.queries() if k.startswith("asof_") or k == "backfill_grid"
]


def _local(spark, rows, schema):
    """createDataFrame over a local relation, which the optimizer sizes
    (a DataFrame over a list of rows is an RDD of unknown size, so the
    union strategy would never take its broadcast plan for it)."""
    st = spark.createDataFrame([], schema).schema
    names = [f.name for f in st.fields]
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table, st)


def _left_df(spark, n_entities=6, rows_per_entity=40, max_ts=8192, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for e in range(n_entities):
        for ts in rng.integers(0, max_ts, size=rows_per_entity):
            rows.append((f"ent{e:04d}", int(ts), float(rng.random())))
    return spark.createDataFrame(rows, "entity string, ts long, val double")


def _check_vs_bruteforce(left_rows, right_rows, got_rows):
    want = golden.asof_brute_force(
        [(r["entity"], r["ts"]) for r in left_rows],
        [(r["entity"], r["ref_ts"], r["ref_version"]) for r in right_rows],
    )
    assert len(got_rows) == len(left_rows)
    seen = set()
    for g in got_rows:
        k = (g["entity"], g["ts"], g["val"])
        seen.add((g["entity"], g["ts"]))
        exp = want[(g["entity"], g["ts"])]
        if exp is None:
            assert g["matched_ref_ts"] is None, k
            assert g["ref_features"] is None, k
        else:
            assert g["matched_ref_ts"] == exp[0], (k, g["matched_ref_ts"], exp)
            assert g["ref_version"] == exp[1], (k, g["ref_version"], exp)
            # zero temporal leakage
            assert g["matched_ref_ts"] <= g["ts"]
    assert seen == {(r["entity"], r["ts"]) for r in left_rows}


PATHS = ["union", "bucketed", "union_shuffle"]


def _strategy(request, path):
    """asof_join's strategy for a test path; "union_shuffle" is the
    union strategy with broadcasts off (the union plan)."""
    if path == "union_shuffle":
        request.getfixturevalue("no_broadcast")
        return "union"
    return path


@pytest.mark.parametrize("path", PATHS)
def test_asof_matches_bruteforce(spark, request, path):
    left = _left_df(spark)
    right = datagen.catalog_table(spark, n_entities=6, rows_per_entity=12)
    got = asof_join(
        left,
        right,
        cfg=AsofConfig(bucket_width=1024),
        strategy=_strategy(request, path),
    ).collect()
    _check_vs_bruteforce(left.collect(), right.collect(), got)


@pytest.mark.parametrize("path", PATHS)
def test_asof_duplicate_ts_takes_max_version(spark, request, path):
    left = spark.createDataFrame(
        [("e", 10, 1.0), ("e", 99, 2.0), ("e", 100, 3.0), ("e", 101, 4.0)],
        "entity string, ts long, val double",
    )
    right = _local(
        spark,
        [
            ("e", 100, 0, [1.0]),
            ("e", 100, 1, [2.0]),  # duplicate ts: version 1 must win
            ("e", 50, 0, [0.5]),
        ],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    got = {
        r["ts"]: r
        for r in asof_join(
            left,
            right,
            cfg=AsofConfig(bucket_width=64),
            strategy=_strategy(request, path),
        ).collect()
    }
    assert got[10]["matched_ref_ts"] is None
    assert got[99]["matched_ref_ts"] == 50
    assert got[100]["matched_ref_ts"] == 100 and got[100]["ref_version"] == 1
    assert list(got[100]["ref_features"]) == [2.0]
    assert got[101]["matched_ref_ts"] == 100 and got[101]["ref_version"] == 1


@pytest.mark.parametrize("path", PATHS)
def test_asof_bucket_boundaries(spark, request, path):
    """Predecessor several buckets back; empty middle buckets."""
    left = spark.createDataFrame(
        [("e", t, 0.0) for t in (0, 63, 64, 5000, 9001)],
        "entity string, ts long, val double",
    )
    right = _local(
        spark,
        [("e", 63, 0, [1.0]), ("e", 9000, 0, [2.0])],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    got = {
        r["ts"]: r["matched_ref_ts"]
        for r in asof_join(
            left,
            right,
            cfg=AsofConfig(bucket_width=64),
            strategy=_strategy(request, path),
        ).collect()
    }
    assert got == {0: None, 63: 63, 64: 63, 5000: 63, 9001: 9000}


def test_asof_bucketed_skew_spread(spark):
    """Hot entity's buckets land in multiple tasks (scale design):
    verify correctness when one entity dominates."""
    rng = np.random.default_rng(11)
    rows = [("hot", int(t), 0.0) for t in rng.integers(0, 1 << 16, size=4000)]
    rows += [("cold", int(t), 0.0) for t in rng.integers(0, 1 << 16, size=10)]
    left = spark.createDataFrame(rows, "entity string, ts long, val double")
    rrows = [("hot", int(t), i, [float(i)]) for i, t in enumerate(range(0, 1 << 16, 997))]
    rrows += [("cold", 5, 0, [9.0])]
    right = spark.createDataFrame(
        rrows, "entity string, ref_ts long, ref_version int, ref_features array<double>"
    )
    got = asof_join(
        left, right, cfg=AsofConfig(bucket_width=4096), strategy="bucketed"
    ).collect()
    want = golden.asof_brute_force(
        [(e, t) for e, t, _ in rows], [(e, t, v) for e, t, v, _ in rrows]
    )
    assert len(got) == len(rows)
    for g in got:
        exp = want[(g["entity"], g["ts"])]
        if exp is None:
            assert g["matched_ref_ts"] is None
        else:
            assert (g["matched_ref_ts"], g["ref_version"]) == exp


def test_asof_bucketed_salted(spark):
    """cfg.salt > 1 splits left rows across salts with right-side
    replication — results identical to the brute force (north-star
    'salted skew splitting')."""
    left = _left_df(spark, n_entities=4, rows_per_entity=60)
    right = datagen.catalog_table(spark, n_entities=4, rows_per_entity=10)
    got = asof_join(
        left,
        right,
        cfg=AsofConfig(bucket_width=2048, salt=4),
        strategy="bucketed",
    ).collect()
    _check_vs_bruteforce(left.collect(), right.collect(), got)


def test_asof_bucketed_shard_larger_than_arrow_batch(spark):
    """Regression: a shard bigger than spark.sql.execution.arrow.
    maxRecordsPerBatch (10k) spans multiple Arrow batches inside one
    partition — the merge must carry its running last-right state
    across batch boundaries."""
    n = 60_000
    left = (
        spark.range(n)
        .selectExpr(
            "'hot' as entity",
            "cast(id * 7 % 100000 as long) as ts",
            "cast(0.0 as double) as val",
        )
    )
    rts = sorted(int(x) for x in np.random.default_rng(1).integers(0, 100000, 25))
    rrows = [("hot", t, i, [float(i)]) for i, t in enumerate(rts)]
    right = spark.createDataFrame(
        rrows, "entity string, ref_ts long, ref_version int, ref_features array<double>"
    )
    # ONE bucket => one 60k-row shard (forces multi-batch processing)
    got = asof_join(
        left, right, cfg=AsofConfig(bucket_width=1 << 40), strategy="bucketed"
    )
    # spot-check against the union strategy (exact same semantics)
    want = asof_join(left, right, strategy="union")
    g = got.groupBy("matched_ref_ts").count().collect()
    w = want.groupBy("matched_ref_ts").count().collect()
    gm = {r["matched_ref_ts"]: r["count"] for r in g}
    wm = {r["matched_ref_ts"]: r["count"] for r in w}
    assert gm == wm
    assert sum(v for k, v in gm.items() if k is not None) > n // 2


def test_asof_adaptive_empty_left(spark):
    """Adaptive bucket sizing must not crash on an empty left side
    (stats come back NULL); result is simply empty."""
    from sonar_spark.config import AsofConfig
    from sonar_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [], "entity string, ts long, payload double"
    )
    right = spark.createDataFrame(
        [("e1", 5, 1, [1.0])],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    out = asof_join(
        left, right, strategy="bucketed",
        cfg=AsofConfig(bucket_width=None),
    )
    assert out.count() == 0


@pytest.mark.parametrize("path", ["union", "union_shuffle"])
def test_asof_bins_exact_above_2_53(spark, request, path):
    """Timestamps above 2^53: 2^61 - 1 has no double, so a time bin
    computed by double division would put that row in 2^61's bin, past
    the interval it belongs to.  Reference ts 0, 2^61 and 3 * 2^60 - 1
    give the broadcast path bins of width 2^60."""
    big, top = 1 << 61, 3 * (1 << 60) - 1
    left = spark.createDataFrame(
        [("e", t, 0.0) for t in (big - 1, big, big + 1, top - 1, top)],
        "entity string, ts long, val double",
    )
    right = _local(
        spark,
        [("e", 0, 0, [0.0]), ("e", big, 1, [1.0]), ("e", top, 2, [2.0])],
        "entity string, ref_ts long, ref_version int, ref_features array<double>",
    )
    got = {
        r["ts"]: r["matched_ref_ts"]
        for r in asof_join(
            left, right, strategy=_strategy(request, path)
        ).collect()
    }
    assert got == {big - 1: 0, big: big, big + 1: big, top - 1: big, top: top}


# ------------------------------------------- broadcast path == union plan

_STR_KEYS = ["é", "日本", "a", "ñb"]
_INT_KEYS = [-(1 << 40), -3, 0, 1 << 50]
# negative and near-2^62 timestamps: the interval bins are integer math
_EDGE_TS = [-(1 << 40), -5, (1 << 62) - 3, 1 << 62]


def _agree_tables(spark, rng, kt, n_left, n_right, vt="int"):
    """Seeded left/right tables whose as-of exercises every tie rule:
    equal left/right ts, duplicate reference ts with distinct versions
    (at most one null version per (key, ts) — two would tie in the
    union plan's order), null versions and payloads, left rows before
    the first and after the last reference row, null left keys and
    timestamps, and a left key with no reference rows.  With vt
    "double" the versions are doubles and some are NaN (at most one
    per (key, ts) too), which Spark sorts above every number."""
    keys = _STR_KEYS if kt == "string" else _INT_KEYS
    pool = [int(t) for t in rng.integers(-40, 40, 10)] + _EDGE_TS
    rrows, null_version, nan_version = [], set(), set()
    for i in range(n_right):
        k = keys[rng.integers(len(keys))]
        t = pool[rng.integers(len(pool))]
        v = i if vt == "int" else float(i)
        u = rng.random()
        if u < 0.25 and (k, t) not in null_version:
            null_version.add((k, t))
            v = None
        elif vt == "double" and u < 0.5 and (k, t) not in nan_version:
            nan_version.add((k, t))
            v = float("nan")
        arr = None if rng.random() < 0.25 else [float(i), float(t % 7)]
        s = None if rng.random() < 0.25 else f"r{i}ü"
        rrows.append((k, t, v, arr, s))
    lkeys = keys + [None, "zz" if kt == "string" else 99]
    lts = pool + [t + 1 for t in pool] + [t - 1 for t in pool]
    lts += [-(1 << 41), (1 << 62) + 9, None]
    lrows = [
        (lkeys[rng.integers(len(lkeys))], lts[rng.integers(len(lts))], i)
        for i in range(n_left)
    ]
    left = spark.createDataFrame(lrows, f"entity {kt}, ts long, val int")
    right = _local(
        spark,
        rrows,
        f"entity {kt}, ref_ts long, ref_version {vt}, "
        "ref_arr array<double>, ref_s string",
    )
    return left, right


def _result(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    return plan, df.dtypes, rows


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("kt", ["string", "bigint"])
def test_asof_paths_agree(spark, request, probe_side, kt):
    """The broadcast interval join returns the union plan's rows, column
    names and types on seeded tables with every tie rule and edge (see
    _agree_tables), with int and with NaN-bearing double versions,
    including empty left and empty right sides, and leaves no persisted
    RDD behind.  Rows compare by repr, which is NaN-safe.  The left rows
    reach the broadcast join with no exchange and no sort."""
    rng = np.random.default_rng(17 if kt == "string" else 29)
    sizes = [(60, 40), (80, 12), (40, 80), (30, 1), (0, 20), (25, 0)]
    cases = [(vt, nl, nr) for vt in ("int", "double") for nl, nr in sizes]
    tables = [_agree_tables(spark, rng, kt, nl, nr, vt) for vt, nl, nr in cases]
    before = _persisted(spark)

    def run():
        out = []
        for left, right in tables:
            j = asof_join(left, right, payload=("ref_arr", "ref_s"))
            out.append((probe_side(j), *_result(j)))
        return out

    fast = run()
    request.getfixturevalue("no_broadcast")
    slow = run()
    for case, (probe, _, ftypes, frows), (_, splan, stypes, srows) in zip(
        cases, fast, slow
    ):
        # an empty interval table folds the join away
        assert case[2] == 0 or probe is not None, case
        sorted_left = [n for n in probe or () if n.startswith("Exchange") or n == "Sort"]
        assert sorted_left == [], (case, probe)
        assert "BroadcastHashJoin" not in splan, splan
        assert ftypes == stypes, case
        assert list(map(repr, frows)) == list(map(repr, srows)), case
        assert len(frows) == case[1]
    assert _persisted(spark) == before


def test_asof_broadcast_prunes_unread_payload(spark, probe_side, tmp_path):
    """A broadcast as-of whose query reads no payload scans the reference
    side without the payload column and zips no arrays: the interval
    table is a Catalyst plan, so column pruning reaches the scan."""
    path = str(tmp_path / "catalog")
    datagen.catalog_table(spark, n_entities=6, rows_per_entity=12).write.parquet(path)
    q = asof_join(_left_df(spark), spark.read.parquet(path)).select(
        "entity", "ts", "matched_ref_ts"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert probe_side(q) is not None, plan
    scans = [line for line in plan.splitlines() if "FileScan" in line]
    assert scans and not any("ref_features" in line for line in scans), plan
    assert "inline(arrays_zip" not in plan, plan
    assert q.count() == _left_df(spark).count()


@pytest.mark.parametrize("null_col", ["entity", "ref_ts"])
def test_asof_null_reference_key_or_ts_takes_union_plan(spark, request, null_col):
    """A null reference key or ts keeps the union plan (its null-key
    partition and nulls-first order decide those rows)."""
    left, right = _agree_tables(
        spark, np.random.default_rng(3), "string", 40, 20
    )
    null = F.lit(None).cast(right.schema[null_col].dataType)
    right = right.union(right.limit(1).withColumn(null_col, null))
    plan, types, rows = _result(
        asof_join(left, right, payload=("ref_arr", "ref_s"))
    )
    assert "BroadcastHashJoin" not in plan and "Window" in plan, plan
    request.getfixturevalue("no_broadcast")
    _, want_types, want_rows = _result(
        asof_join(left, right, payload=("ref_arr", "ref_s"))
    )
    assert (types, rows) == (want_types, want_rows)


def test_asof_bucketed_adaptive_sizing_is_one_job(spark):
    """Adaptive bucket sizing reads the hottest key's count and the ts
    range in ONE query.  AQE is off while the join is built, so that
    query is one Spark job (AQE submits every shuffle stage as a job of
    its own)."""
    sc = spark.sparkContext
    left = _left_df(spark)
    right = datagen.catalog_table(spark, n_entities=6, rows_per_entity=12)
    aqe = "spark.sql.adaptive.enabled"
    old = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    sc.setJobGroup("asof-adaptive-sizing", "asof adaptive sizing")
    try:
        asof_join(
            left, right, cfg=AsofConfig(bucket_width=None), strategy="bucketed"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set(aqe, old)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("asof-adaptive-sizing")
    assert len(jobs) == 1, jobs


@pytest.mark.parametrize("name", ASOF_QUERIES)
def test_asof_query_matches_oracle(spark, sf_dir, name):
    """Every as-of query of queries() (and backfill_grid, which shares the
    union window) equals its DuckDB oracle at the test scale."""
    got = E.queries()[name](spark, sf_dir).toPandas()
    assert_matches_oracle(got, sf_dir, name)
