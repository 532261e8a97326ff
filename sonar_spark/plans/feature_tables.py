"""Shared feature-table builders — the front ends the FeatureStore
materializes once per corpus and ~40 driver queries consume
(SURVEY §4.4; the "at 100x these are Iceberg feature tables"
architecture, measured in BENCH/BASELINE.md "Round 5").

Each builder takes an optional ``store``; with a FeatureStore the
table is built exactly once (write-once parquet) and every caller
reads the materialized copy, otherwise it is derived inline (the
r1-r4 per-query behavior, kept for A/B and for ad-hoc use).

Token analog: the per-doc signal is the token-length series of the
``documents`` table (len of each whitespace token), the same series
every driver query and DuckDB oracle uses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FrameConfig
from ..functions.text import to_token_length_table
from ..operators.features import frame_features_arrow
from .pipeline import FeatureStore


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan.  NOTE (r6): a repartition-to-parallelism here
    was prototyped and A/B-reverted — build_all's DAG concurrency
    already overlaps the builders' serial scan phases, so the extra
    exchange per builder measured ~+2.5 s at sf0.1 and no win at
    sf1.0 (unlike the per-QUERY `_par` sites, which have no such
    overlap)."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def token_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posexploded (doc_id, pos, v) token-length series."""
    toks = to_token_length_table(_docs(spark, sf_dir))
    return toks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("tokens").alias("pos", "v"),
    ).withColumn("v", F.col("v").cast("double"))


def _get(store: FeatureStore | None, name: str, builder):
    if store is None:
        return builder()
    return store.get(name, builder)


def frame_rms(
    spark: SparkSession,
    sf_dir: str,
    store: FeatureStore | None = None,
) -> DataFrame:
    """Per-frame (rms_energy, flux) at W=16, H=4 — 10 queries consume
    this."""

    def build() -> DataFrame:
        from ..config import FeatureConfig

        # r6: the table carries only rms+flux — prune the kernel to
        # them (the Enable* flags ARE column pruning for mapInArrow)
        feats = frame_features_arrow(
            to_token_length_table(_docs(spark, sf_dir)),
            FrameConfig(window=16, hop=4),
            FeatureConfig(
                enable_moments=False, enable_percentiles=False,
                enable_entropy=False, enable_zcr=False,
                enable_spectral=False, enable_mfcc=False,
            ),
        )
        return feats.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "frame_idx", "rms_energy", "flux",
        )

    return _get(store, "frame_rms_w16h4", build)


def lpc_coeffs(
    spark: SparkSession, sf_dir: str, store: FeatureStore | None = None
) -> DataFrame:
    """Order-4 LPC table (format.go:96-101 front end)."""

    def build() -> DataFrame:
        from ..operators.lpc import lpc4

        return lpc4(token_values(spark, sf_dir))

    return _get(store, "lpc4", build)


def formants_table(
    spark: SparkSession, sf_dir: str, store: FeatureStore | None = None
) -> DataFrame:
    """Formant peak table (format.go:148-357) from the LPC table."""
    from ..operators.formants import formants

    return _get(
        store,
        "formants",
        lambda: formants(lpc_coeffs(spark, sf_dir, store)),
    )


def onsets_rms(
    spark: SparkSession, sf_dir: str, store: FeatureStore | None = None
) -> DataFrame:
    """RMS onset table (scaled onset_detection.go thresholds)."""
    from ..operators.sessionize import detect_onsets

    def build() -> DataFrame:
        return detect_onsets(
            frame_rms(spark, sf_dir, store), signal="rms_energy",
            threshold_scale=1.05,
        )

    return _get(store, "onsets_rms", build)


def voice_quality_table(
    spark: SparkSession, sf_dir: str, store: FeatureStore | None = None
) -> DataFrame:
    """Rounded AnalyzeVoiceQuality doc table (voice_quality.go:56-115
    + helpers); its internal front ends (frame rms, onsets) are
    store-backed too, so the multi-consumer re-derivation (rms ->
    onsets AND voice_quality; onsets -> tempo AND voice_quality)
    happens at most once per corpus."""

    def build() -> DataFrame:
        from ..operators.temporal import (
            hnr,
            tempo_estimate,
            voice_quality_full,
        )

        rms = frame_rms(spark, sf_dir, store)
        on = onsets_rms(spark, sf_dir, store)
        t = tempo_estimate(on).where(
            (F.col("n_onsets") >= 2) & F.col("dominant_ioi").isNotNull()
        )
        expected = t.select(
            "doc_id", (F.col("dominant_ioi") * 4).cast("long").alias("L")
        )
        hnr_df = hnr(token_values(spark, sf_dir), expected).select(
            "doc_id", F.round("hnr_db", 6).alias("hnr_db")
        )
        out = voice_quality_full(rms, on, hnr_df)
        return out.select(
            "doc_id",
            "n_periods",
            F.round("jitter_pct", 6).alias("jitter_pct"),
            F.round("shimmer_pct", 6).alias("shimmer_pct"),
            F.round("hnr_db", 6).alias("hnr_db"),
            F.round("mean_f0", 6).alias("mean_f0"),
            F.round("f0_range", 6).alias("f0_range"),
            F.round("f0_stability", 6).alias("f0_stability"),
            F.round("amp_stability", 6).alias("amp_stability"),
            F.round("overall_quality", 6).alias("overall_quality"),
            F.round("analysis_quality", 6).alias("analysis_quality"),
        )

    return _get(store, "voice_quality", build)


def hist_grid(
    spark: SparkSession,
    sf_dir: str,
    store: FeatureStore | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Zero-filled (doc_id, frame_idx, bin, m) histogram-spectrum grid
    (W=32, H=8, 16 bins, first 4 frames per doc) — the tonal front
    end.  ``docs`` overrides the source (pre-filtered bounded
    queries); only the full-corpus grid is store-backed."""
    if docs is None:
        return _get(
            store,
            "hist_grid",
            lambda: _hist_grid_build(spark, _docs(spark, sf_dir)),
        )
    return _hist_grid_build(spark, docs)


def _hist_grid_build(spark: SparkSession, docs: DataFrame) -> DataFrame:
    from ..operators.frames import expand_frames

    toks = to_token_length_table(docs)
    frames = expand_frames(toks, FrameConfig(window=32, hop=8))
    fr = frames.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "frame_idx",
        F.transform("window", lambda x: x.cast("double")).alias("w"),
    ).where(F.col("frame_idx") < 4)
    lo = F.array_min("w")
    hi0 = F.array_max("w")
    fr = fr.withColumn("lo", lo).withColumn(
        "hi", F.when(hi0 > lo, hi0).otherwise(lo + 1.0)
    )
    ex = fr.select(
        "doc_id", "frame_idx", "lo", "hi", F.explode("w").alias("v")
    )
    bin_ = F.least(
        F.greatest(
            F.floor((F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 16.0)),
            F.lit(0),
        ),
        F.lit(15),
    )
    cnts = ex.groupBy("doc_id", "frame_idx", bin_.alias("bin")).agg(
        F.count("*").cast("double").alias("c")
    )
    return (
        fr.select("doc_id", "frame_idx")
        .withColumn("bin", F.explode(F.sequence(F.lit(0), F.lit(15))))
        .withColumn("bin", F.col("bin").cast("long"))
        .join(cnts, ["doc_id", "frame_idx", "bin"], "left")
        .withColumn("m", F.coalesce("c", F.lit(0.0)))
    )


def doc_hpcp(
    spark: SparkSession,
    sf_dir: str,
    store: FeatureStore | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Per-frame HPCP over the histogram spectrum — the chroma front
    end 12 tonal queries share; full-corpus table store-backed."""
    from ..operators.peaks import hpcp, spectral_peaks

    def build(d: DataFrame | None) -> DataFrame:
        grid = hist_grid(spark, sf_dir, store, d)
        peaks = spectral_peaks(
            grid, max_peaks=16, min_height=1e-05
        )
        return hpcp(peaks)

    if docs is None:
        return _get(store, "hpcp", lambda: build(None))
    return build(docs)


def pitch_det6(
    spark: SparkSession, sf_dir: str, store: FeatureStore | None = None
) -> DataFrame:
    """Per-frame raw NSDF pitch detections, 6-dp rounded (the
    quantized interface) — shared by the batch and streaming pitch
    post-processors."""
    from ..operators.temporal import pitch_nsdf_tokens

    def build() -> DataFrame:
        toks = to_token_length_table(_docs(spark, sf_dir))
        det = pitch_nsdf_tokens(
            toks.select(
                F.col("doc_id").cast("long").alias("doc_id"), "tokens"
            )
        )
        return det.select(
            "doc_id",
            "frame_idx",
            F.round("pitch", 6).alias("pitch"),
            F.round("confidence", 6).alias("confidence"),
        )

    return _get(store, "pitch_det6", build)


#: builder registry for bulk materialization (jobs/feature_store_job)
BUILDERS = {
    "frame_rms_w16h4": lambda spark, sf, st: frame_rms(spark, sf, st),
    "lpc4": lpc_coeffs,
    "formants": formants_table,
    "onsets_rms": onsets_rms,
    "voice_quality": voice_quality_table,
    "hist_grid": lambda spark, sf, st: hist_grid(spark, sf, st),
    "hpcp": lambda spark, sf, st: doc_hpcp(spark, sf, st),
    "pitch_det6": pitch_det6,
}


#: build-dependency DAG (edges = which STORE TABLE a builder reads);
#: roots have no edges.  Used to schedule concurrent builds so a
#: dependent starts the moment its own inputs land, without waiting
#: on unrelated long builds.
DEPS = {
    "frame_rms_w16h4": [],
    "lpc4": [],
    "hist_grid": [],
    "pitch_det6": [],
    "formants": ["lpc4"],
    "onsets_rms": ["frame_rms_w16h4"],
    "hpcp": ["hist_grid"],
    "voice_quality": ["frame_rms_w16h4", "onsets_rms"],
}


def build_all(
    spark: SparkSession,
    sf_dir: str,
    store: FeatureStore,
    tables: list[str] | None = None,
    extra_roots: tuple = (),
) -> dict[str, int]:
    """Materialize the named feature tables (default: all) into the
    store; returns {table: row_count} as recorded at each commit.

    Builds run CONCURRENTLY, scheduled by the DEPS dag: no
    individual builder keeps 32 cores busy end-to-end (single-file
    scans, small task counts, parquet commit and driver planning are
    serial), so overlapping independent builders hides one table's
    serial phases behind another's compute; and gating only on a
    table's OWN inputs keeps long independent chains (the dedup
    label table) off everyone else's critical path.  Thread-per
    -builder is the standard Spark concurrent-job-submission pattern
    (the scheduler interleaves their stages; on a cluster these are
    independent writers of independent Iceberg tables).  A dependent
    never races its own front-end build (the write-once rename would
    keep that correct, but both racers would pay the build cost).

    Measured at sf0.1 idle (BENCH/store_scale.json): sequential
    33.2 s -> waves 19.0 s -> dag ~15 s.

    ``extra_roots``: zero-arg callables for independent root tables
    owned by other modules (e.g. the dedup label table); they start
    immediately and gate nothing."""
    from concurrent.futures import ThreadPoolExecutor

    want = list(BUILDERS) if tables is None else list(tables)
    unknown = [t for t in want if t not in BUILDERS]
    if unknown:
        raise KeyError(f"unknown feature tables: {unknown}")
    futs: dict[str, object] = {}

    def _run(name: str):
        # a requested table waits only for its REQUESTED deps; an
        # unrequested dep is derived inside the builder itself (and
        # still lands in the store via the builder's own store.get)
        for d in DEPS[name]:
            if d in futs:
                futs[d].result()
        BUILDERS[name](spark, sf_dir, store)

    # one worker per task: a dependent blocks its thread while its
    # deps run, so the pool must be able to hold every task at once
    # (topological submission order alone does not guarantee a
    # queued dep is RUNNING when its dependent starts waiting)
    n_tasks = len(want) + len(extra_roots)
    with ThreadPoolExecutor(max_workers=max(1, n_tasks)) as pool:
        extra_futs = [pool.submit(r) for r in extra_roots]
        # submit in topological order (DEPS insertion order) so a
        # dependent's future lookup sees its deps already submitted
        for name in (n for n in DEPS if n in want):
            futs[name] = pool.submit(_run, name)
        for f in [*extra_futs, *futs.values()]:
            f.result()  # propagate the first builder exception
    return {name: store.rows(name) for name in want}
