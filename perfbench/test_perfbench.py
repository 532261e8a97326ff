"""Tests of the benchmark itself (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generators


def test_token_inputs_same_seed_same_bytes(tmp_path):
    a = gen.tokens_inputs(str(tmp_path / "a"), 7, 50)
    b = gen.tokens_inputs(str(tmp_path / "b"), 7, 50)
    for k in a:
        fa, fb = sorted(os.listdir(a[k])), sorted(os.listdir(b[k]))
        assert fa == fb
        for f in fa:
            assert (tmp_path / "a" / a[k] / f).read_bytes() == (tmp_path / "b" / b[k] / f).read_bytes()


def test_token_arrays_differ_across_seeds():
    l1, f1 = gen.token_arrays(1, 200)
    l2, f2 = gen.token_arrays(2, 200)
    assert not np.array_equal(l1, l2)
    assert not np.array_equal(gen.catalog_arrays(1)["ref_ts"], gen.catalog_arrays(2)["ref_ts"])


def test_token_table_has_fixture_edge_docs():
    lens, flat = gen.token_arrays(3, 100)
    assert list(lens[:3]) == [32, gen.WINDOW, gen.WINDOW + gen.HOP - 1]
    assert lens.min() >= 32 and lens.max() <= 8192
    assert len(flat) == lens.sum() and flat.max() < gen.VOCAB


def test_catalog_has_duplicate_ts_and_leading_gap():
    c = gen.catalog_arrays(4)
    ts = c["ref_ts"].reshape(gen.N_ENTITIES, gen.ROWS_PER_ENTITY)
    assert (ts[:, 0] == ts[:, 1]).all()
    assert (ts[:, 0] >= gen.WINDOW).all()


def test_documents_same_seed_same_corpus_and_pairs():
    t1, p1 = gen.documents_corpus(5, 300)
    t2, p2 = gen.documents_corpus(5, 300)
    t3, p3 = gen.documents_corpus(6, 300)
    assert t1.equals(t2) and p1 == p2
    assert not t1.equals(t3)
    assert t1.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]


def test_planted_pairs_are_recorded_on_both_sides_of_the_threshold():
    table, pairs = gen.documents_corpus(5, 1500)
    text = table.column("text").to_pylist()
    assert any(j >= 0.8 for _, _, j in pairs) and any(j < 0.8 for _, _, j in pairs)
    for a, b, j in pairs:
        assert j == gen.jaccard(text[a].split(), text[b].split())


# ---------------------------------------------------------------- checks


@pytest.fixture(scope="module")
def featurize_case():
    seed, n = 8, 300
    lens, flat = gen.token_arrays(seed, n)
    ent = np.arange(n) % gen.N_ENTITIES
    cat = gen.catalog_arrays(seed)
    ref = checks.featurize_reference(lens, flat, ent, cat["entity"], cat["ref_ts"])
    return lens, flat, ent, cat, ref


def test_featurize_reference_matches_a_frame_loop(featurize_case):
    lens, flat, ent, cat, ref = featurize_case
    first = {e: cat["ref_ts"][cat["entity"] == e].min() for e in range(gen.N_ENTITIES)}
    n_frames = n_matched = 0
    sum_rms = 0.0
    off = 0
    for i, n in enumerate(lens):
        x = flat[off : off + n].astype(np.float64)
        off += n
        for f in range(0, (n - gen.WINDOW) // gen.HOP + 1 if n >= gen.WINDOW else 0):
            w = x[f * gen.HOP : f * gen.HOP + gen.WINDOW]
            sum_rms += np.sqrt((w * w).sum() / gen.WINDOW)
            n_frames += 1
            n_matched += f * gen.HOP >= first[ent[i]]
    assert ref["n_frames"] == n_frames and ref["n_matched"] == n_matched
    assert ref["sum_rms"] == pytest.approx(sum_rms, rel=1e-12)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: {**r, "n_frames": r["n_frames"] + 1},
        lambda r: {**r, "n_matched": r["n_matched"] - 1},
        lambda r: {**r, "sum_rms": r["sum_rms"] * (1 + 1e-6)},
    ],
)
def test_check_featurize_rejects_corruption(featurize_case, corrupt):
    ref = featurize_case[-1]
    good = {**ref, "sum_rms": round(ref["sum_rms"], 3)}
    assert checks.check_featurize(good, ref) == []
    assert checks.check_featurize(corrupt(good), ref)


@pytest.fixture(scope="module")
def curation_case():
    table, pairs = gen.documents_corpus(9, 400)
    words = {str(d): t.split() for d, t in zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist())}
    comp = {d: d for d in words}

    def find(d):
        while comp[d] != d:
            d = comp[d]
        return d

    for a, b, j in pairs:
        if j >= 0.8:
            ra, rb = find(str(a)), find(str(b))
            comp[max(ra, rb)] = min(ra, rb)
    ids = list(words)
    component = [find(d) for d in ids]
    rng = np.random.default_rng(0)
    dec = pd.DataFrame(
        {
            "doc_id": ids,
            "quality": rng.random(len(ids)).round(6),
            "n_tokens": [len(words[d]) for d in ids],
            "component": component,
        }
    )
    dec["is_canonical"] = dec["doc_id"] == dec["component"]
    dec["keep"] = dec["is_canonical"] & (dec["quality"] >= 0.5) & (dec["n_tokens"] >= 5)
    return dec, words, pairs


def _curation_problems(dec, case, chunk_ids=None):
    _, words, pairs = case
    return checks.check_curation(dec, words, pairs, 0.8, 0.5, 5, chunk_ids)


def _split_pair(dec, pairs):
    a, b, _ = next(p for p in pairs if p[2] >= 0.8)
    out = dec.copy()
    out.loc[out["doc_id"] == str(b), "component"] = str(b)
    out.loc[out["doc_id"] == str(b), "is_canonical"] = True
    return out


def test_check_curation_accepts_the_policy(curation_case):
    dec = curation_case[0]
    kept = set(dec.loc[dec["keep"], "doc_id"])
    assert _curation_problems(dec, curation_case, kept) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda dec, pairs: _split_pair(dec, pairs),
        lambda dec, pairs: dec.assign(keep=~dec["keep"]),
        lambda dec, pairs: dec.assign(is_canonical=False),
        lambda dec, pairs: dec.assign(component="0", is_canonical=dec["doc_id"] == "0"),
        lambda dec, pairs: dec.assign(component="nobody"),
        lambda dec, pairs: dec.iloc[1:],
    ],
)
def test_check_curation_rejects_corruption(curation_case, corrupt):
    dec, _, pairs = curation_case
    assert _curation_problems(corrupt(dec, pairs), curation_case)


def test_check_curation_rejects_chunks_of_dropped_docs(curation_case):
    dec = curation_case[0]
    dropped = set(dec.loc[~dec["keep"], "doc_id"])
    assert _curation_problems(dec, curation_case, dropped)


def test_check_oracle_is_strict():
    want = pd.DataFrame({"id": [1, 2], "v": [0.0, 1.5], "s": ["a", "b"]})
    assert checks.check_oracle("q", want[::-1].copy(), want) == []
    assert checks.check_oracle("q", want.assign(v=[-0.0, 1.5]), want)
    assert checks.check_oracle("q", want.assign(v=[0.0, 1.500001]), want)
    assert checks.check_oracle("q", want.iloc[:1], want)
    assert checks.check_oracle("q", want.drop(columns="s"), want)


# --------------------------------------------------------------- metrics


def test_benchmark_json_metric_names(spec):
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    for n in names + [w["name"] for w in spec["workloads"]]:
        assert NAME.fullmatch(n), n
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(
        m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]


def test_layer_names_in_benchmark_json(spec):
    from perfbench import layers
    from sonar_spark.plans.feature_tables import BUILDERS

    per = {m["name"] for m in spec["per_layer"]}
    tables = [*BUILDERS, "dup_labels"]
    assert {f"plans.feature_tables.{t}_s" for t in tables} <= per
    assert {f"entry.{q}_s" for q in layers.STORE_QUERIES} <= per
    assert {f"catalyst.{p}_s" for p in layers.CATALYST_PHASES} <= per


def test_event_log_counters_are_named_in_benchmark_json(spec, tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "span-9"}},
    ]
    for t in (100, 100, 400):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Launch Time": 0, "Finish Time": t},
            "Task Metrics": {"Executor Run Time": t, "Executor CPU Time": t * 10**6,
                             "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5,
                                                      "Fetch Wait Time": 2},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
        })
    events.append({"Event": "SparkListenerTaskEnd", "Stage ID": 1,
                   "Task Info": {"Launch Time": 0, "Finish Time": 9999}, "Task Metrics": {}})
    events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Submission Time": 0, "Completion Time": 500, "Accumulables": [
            {"Name": "data sent to Python workers", "Value": "64"},
            {"Name": "time to run Python workers", "Value": "250"}]}})
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = trace.event_log_counters(str(log), {"span-1"})
    assert c["jobs"] == 1 and c["tasks"] == 3
    assert c["executor_run_s"] == pytest.approx(0.6) and c["executor_cpu_s"] == pytest.approx(0.6)
    assert c["shuffle_write_bytes"] == 21 and c["shuffle_read_bytes"] == 15
    assert c["python_bytes_to"] == 64 and c["python_run_s"] == 0.25
    assert c["task_skew"] == 4.0
    per = {m["name"] for m in spec["per_layer"]}
    assert {f"spark.{k}" for k in c} | {"spark.persisted_rdds"} <= per


def test_tracer_nests_spans():
    t = trace.Tracer()
    with t.span("a.outer"):
        with t.span("a.inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


# ------------------------------------------------------------ run loop


class _Recording:
    """A workload whose iterations only record the tracer they ran under."""

    name = "recording"

    def __init__(self):
        self.tracers = []

    def prepare(self):
        pass

    def iterate(self, spark, tracer):
        self.tracers.append(tracer)

    def check(self, spark, out):
        return []


def _no_persisted_spark():
    rdds = SimpleNamespace(size=lambda: 0)
    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=lambda: rdds)))


def test_loop_times_min_timed_iterations():
    from perfbench.run import Runner

    w = _Recording()
    (walls,) = Runner(w).loop(_no_persisted_spark(), 0, (trace.NoTrace(),), 3)
    assert len(walls) == 3 == len(w.tracers)


def test_loop_puts_each_plain_iteration_between_traced_ones():
    from perfbench.run import Runner

    w, traced, plain = _Recording(), trace.Tracer(), trace.NoTrace()
    t_walls, p_walls = Runner(w).loop(_no_persisted_spark(), 0, (traced, plain), 2)
    assert w.tracers == [traced, plain, traced]
    assert len(t_walls) == 2 and len(p_walls) == 1
    assert [s.name for s in traced.spans] == ["iteration", "iteration"]
