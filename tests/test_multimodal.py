"""Multimodal plumbing: schema/batch shape, checksum gate, stub decode
determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from sonar_spark.operators.multimodal import media_features, synth_media_table


def test_media_features_end_to_end(spark):
    media = synth_media_table(spark)
    out = media_features(media).collect()
    assert len(out) == 64
    for r in out:
        assert r["ok"] is True
        assert r["n_values"] > 0
        assert len(r["hist"]) == 16
        assert abs(sum(r["hist"]) - 1.0) < 1e-9
        if r["kind"] == "audio":
            assert r["n_frames"] > 0
        else:
            assert r["n_frames"] == 0


def test_checksum_gate(spark):
    media = synth_media_table(spark).withColumn(
        "sha256",
        F.when(F.col("media_id") == "m000001", F.lit("deadbeef")).otherwise(
            F.col("sha256")
        ),
    )
    out = {r["media_id"]: r for r in media_features(media).collect()}
    assert out["m000001"]["ok"] is False and out["m000001"]["mean"] is None
    assert out["m000000"]["ok"] is True


def test_determinism(spark):
    a = {r["media_id"]: r["sha256"] for r in synth_media_table(spark).collect()}
    b = {r["media_id"]: r["sha256"] for r in
         synth_media_table(spark).repartition(3).collect()}
    assert a == b
