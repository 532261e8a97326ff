"""The one Python boundary: the engine crosses into Python only through
Arrow (mapInArrow, applyInArrow and the session.map_rows row helper),
never through pandas.

- A Spark-free guard fails on any mapInPandas / applyInPandas call and
  any pandas import in sonar_spark/ or __spark_entry__.py, outside the
  applyInPandasWithState operators of streaming/stateful.py.
- map_rows keeps the pandas path's behaviour: a NaN output is NULL, a
  null list cell arrives as None, empty input works, a row may yield
  0..n tuples, and a lossy output cast raises.
- Every queries() entry that reaches a converted kernel equals its
  DuckDB oracle at the test scale."""

from __future__ import annotations

import ast
import math
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from sonar_spark.session import map_rows
from tools.check_oracle import assert_matches_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the stateful streaming operators keep applyInPandasWithState
PANDAS_ALLOWED = os.path.join(REPO, "sonar_spark", "streaming", "stateful.py")


def _engine_sources(repo: str = REPO) -> list[str]:
    out = [os.path.join(repo, "__spark_entry__.py")]
    for root, dirs, files in os.walk(os.path.join(repo, "sonar_spark")):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def pandas_crossings(repo: str = REPO) -> list[str]:
    """'path:line what' for every pandas boundary crossing in the engine
    outside streaming/stateful.py."""
    allowed = os.path.join(repo, os.path.relpath(PANDAS_ALLOWED, REPO))
    hits = []
    for path in _engine_sources(repo):
        if path == allowed:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in (
                "mapInPandas", "applyInPandas"
            ):
                what = node.attr
            elif isinstance(node, ast.Import) and any(
                a.name.split(".")[0] == "pandas" for a in node.names
            ):
                what = "import pandas"
            elif isinstance(node, ast.ImportFrom) and (
                (node.module or "").split(".")[0] == "pandas"
            ):
                what = f"from {node.module} import"
            else:
                continue
            hits.append(f"{os.path.relpath(path, repo)}:{node.lineno} {what}")
    return hits


def test_engine_crosses_into_python_only_through_arrow():
    assert pandas_crossings() == []


def test_crossings_rule_on_synthetic_sources(tmp_path):
    pkg = tmp_path / "sonar_spark"
    (pkg / "streaming").mkdir(parents=True)
    (tmp_path / "__spark_entry__.py").write_text(
        "def q(df):\n    return df.mapInPandas(f, 's')\n"
    )
    (pkg / "a.py").write_text(
        "import pandas as pd\nfrom pandas import DataFrame\n"
        "import pyspark.sql.pandas.types\n"
        "def g(df):\n    return df.groupBy('k').applyInPandas(f, 's')\n"
    )
    (pkg / "streaming" / "stateful.py").write_text(
        "import pandas as pd\n"
        "def h(df):\n    return df.groupBy('k').applyInPandasWithState()\n"
    )
    assert pandas_crossings(str(tmp_path)) == [
        "__spark_entry__.py:2 mapInPandas",
        "sonar_spark/a.py:1 import pandas",
        "sonar_spark/a.py:2 from pandas import",
        "sonar_spark/a.py:5 applyInPandas",
    ]


def test_map_rows_nan_is_null_and_null_list_is_none(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [])], "k long, v array<double>"
    )

    def fn(k, v):
        # v is a numpy view, or None for the null list row
        n = -1 if v is None else len(v)
        return [(k, n, float("nan") if k == 1 else float(n), [math.nan, 1.0])]

    got = {
        r["k"]: r
        for r in map_rows(
            df, fn, "k long, n int, x double, xs array<double>"
        ).collect()
    }
    assert [got[k]["n"] for k in (1, 2, 3)] == [2, -1, 0]
    assert got[1]["x"] is None
    assert got[2]["x"] == -1.0
    assert got[1]["xs"] == [None, 1.0]


def test_map_rows_zero_or_many_rows_and_empty_input(spark):
    df = spark.range(6).repartition(3)
    out = map_rows(df, lambda i: [(i, j) for j in range(i % 3)], "i long, j int")
    assert sorted(map(tuple, out.collect())) == [
        (i, j) for i in range(6) for j in range(i % 3)
    ]
    empty = map_rows(df.where(F.col("id") < 0), lambda i: [(i, 0)], "i long, j int")
    assert empty.collect() == []
    assert map_rows(df, lambda i: [], "i long").collect() == []


def test_map_rows_rejects_a_lossy_output_cast(spark):
    with pytest.raises(Exception, match="truncated"):
        map_rows(spark.range(2), lambda i: [(i + 0.5,)], "x long").collect()


# every queries() entry that reaches an Arrow kernel that used
# to cross the boundary through pandas
CONVERTED_QUERIES = [
    "align_best_select", "align_pairs", "bytes_decode",
    "chroma_seq_dtw", "chroma_seq_sw",
    "compare_topk_lsh", "consistency_trials", "content_detect",
    "curation_filter", "dedup_groups", "dsir_select",
    "gmm", "harmonic_track_stats", "harmonic_tracks", "hierarchical",
    "incremental_dedup", "ivfpq_knn", "kmedoids", "minhash_dedup",
    "multimodal", "ngram_jaccard", "ngram_novelty", "pack_sequences",
    "pitch_tracked", "repetition_profile", "speech_analysis",
    "split_leakage_safe", "substring_dedup",
]


@pytest.mark.parametrize("name", CONVERTED_QUERIES)
def test_converted_query_matches_oracle(spark, sf_dir, name):
    got = E.queries()[name](spark, sf_dir).toPandas()
    assert_matches_oracle(got, sf_dir, name)
