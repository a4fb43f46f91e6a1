"""Image near-dup family: dHash fingerprints, planted-corpus recall &
precision, drop-metric surfacing (no silent truncation), and the
audio-pass drop-metric threading the round-2 verdict asked for."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cc_net_spark.multimodal import image as im

N = 64  # 16 groups of 4


def test_dhash_noise_invariance_and_discrimination():
    rng = np.random.default_rng(0)
    base = None
    # block-structured image exactly like the corpus generator's
    vals = np.empty((8, 9))
    vals[:, 0] = 128.0
    steps = rng.choice([-12, 12], size=(8, 8))
    for c in range(8):
        vals[:, c + 1] = vals[:, c] + steps[:, c]
    gray = np.repeat(np.repeat(vals, 2, axis=0), 2, axis=1)
    base = np.repeat(gray[:, :, None], 3, axis=2).astype(np.uint8)
    noisy = np.clip(
        base.astype(np.int16) + rng.integers(-2, 3, size=base.shape), 0, 255
    ).astype(np.uint8)
    assert im.dhash64(base) == im.dhash64(noisy)
    # flipping one step's sign flips the corresponding bit
    vals2 = vals.copy()
    vals2[0, 1] = vals[0, 0] - steps[0, 0]
    gray2 = np.repeat(np.repeat(vals2, 2, axis=0), 2, axis=1)
    other = np.repeat(gray2[:, :, None], 3, axis=2).astype(np.uint8)
    assert im.dhash64(base) != im.dhash64(other)


def test_planted_corpus_pairs_exact(spark):
    images = im.generate_image_corpus(spark, N, seed=42)
    got = {
        (r["id_a"], r["id_b"])
        for r in im.image_near_dup_pairs(images).collect()
    }
    expected = {
        (f"img-{4*g:06d}", f"img-{4*g+1:06d}") for g in range(N // 4)
    }
    assert got == expected


def test_psnr_verify_rejects_unrelated(spark):
    images = im.generate_image_corpus(spark, 16, seed=42)
    # force the unrelated (role 0 vs role 2) pair through the verifier
    pairs = spark.createDataFrame(
        [("img-000000", "img-000002"), ("img-000000", "img-000001")],
        "id_a string, id_b string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["psnr_db"]
        for r in im.pair_image_psnr(pairs, images).collect()
    }
    assert rows[("img-000000", "img-000001")] >= 30.0  # planted near-dup
    assert rows[("img-000000", "img-000002")] < 30.0  # unrelated


def test_image_drop_metrics_surface_on_hot_bucket(spark):
    """A planted hot dHash bucket (the same image replicated past the cap)
    must surface in PairGenMetrics instead of being silently truncated."""
    base = im.generate_image_corpus(spark, 4, seed=42).filter(
        F.col("img_id") == "img-000000"
    )
    hot = base
    copies = [base.withColumn("img_id", F.concat(F.lit(f"dup-{i:03d}-"), "img_id"))
              for i in range(30)]
    for c in copies:
        hot = hot.unionByName(c)
    pairs, metrics = im.image_near_dup_pairs(hot, bucket_cap=10, with_metrics=True)
    assert metrics.n_buckets_dropped >= 1
    assert metrics.n_rows_dropped >= 31
    assert pairs.count() == 0  # everything was in the dropped bucket
    # observe mode (metrics inside the caller's action, no fingerprint
    # checkpoint) must report the same counters
    pairs_o, resolve = im.image_near_dup_pairs(
        hot, bucket_cap=10, with_metrics="observe"
    )
    assert pairs_o.count() == 0
    assert resolve().__dict__ == metrics.__dict__


def test_audio_drop_metrics_surface_on_hot_word(spark):
    """audio_near_dup_pairs(with_metrics=True): a planted hot occupancy
    word (one clip replicated past the cap) surfaces drop counters in the
    returned metrics — the stage manifest records them (VERDICT r2 #3)."""
    from cc_net_spark.multimodal.audio import audio_near_dup_pairs
    from cc_net_spark.sources import synth

    base = synth.generate_clips(spark, 8, seed=42, with_audio=True).filter(
        F.col("clip_id") == "clip-000000000"
    )
    hot = base
    for i in range(25):
        hot = hot.unionByName(
            base.withColumn("clip_id", F.concat(F.lit(f"dup-{i:03d}-"), "clip_id"))
        )
    pairs, metrics = audio_near_dup_pairs(hot, bucket_cap=10, with_metrics=True)
    assert metrics.n_buckets_dropped >= 1
    assert metrics.n_rows_dropped > 0


def test_pipeline_manifest_records_audio_pairgen_metrics(spark, tmp_path):
    """The non-fused pipeline's audio_pairs stage commits its candidate
    drop counters into the manifest metrics record."""
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
    from cc_net_spark.sources import synth

    p = tmp_path / "clips.parquet"
    synth.generate_clips(spark, 32, seed=42, with_audio=True).write.parquet(str(p))
    cfg = NearDupConfig(include_audio_pass=True)
    _, manifests = run_near_dup_pipeline(spark, str(p), str(tmp_path / "w"), cfg)
    pg = manifests["audio_pairs"]["metrics"]["pairgen"]
    assert set(pg) == {"n_buckets", "n_buckets_dropped", "n_rows_dropped"}
    assert pg["n_buckets"] > 0
