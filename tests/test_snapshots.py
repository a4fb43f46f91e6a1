"""Snapshot table layer: Iceberg-style commits on plain Parquet —
append/overwrite/merge semantics, time travel, atomicity, expiry, and
snapshot-based resume of the incremental dedup hash table."""

import json

import pytest
from pyspark.sql import functions as F

from cc_net_spark.sources.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_append_overwrite_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t")
    s1 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    s2 = t.append(_df(spark, [(3, "c")]))
    assert (s1, s2) == (1, 2)
    assert t.rows() == 3
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3}
    # time travel: snapshot 1 still reads the pre-append state
    assert {r["k"] for r in t.read(snapshot_id=1).collect()} == {1, 2}
    s3 = t.overwrite(_df(spark, [(9, "z")]))
    assert t.rows() == 1 and t.rows(snapshot_id=2) == 3
    assert [m["operation"] for m in t.snapshots()] == [
        "append", "append", "overwrite"
    ]
    assert t.manifest(s3)["parent_id"] == s2


def test_merge_into_upserts(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t")
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge_into(_df(spark, [(2, "B"), (4, "d")]), keys=["k"])
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # the pre-merge snapshot is untouched
    old = {r["k"]: r["v"] for r in t.read(snapshot_id=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_append_write_cost_is_batch_proportional(spark, tmp_path):
    """The incremental-dedup contract: an append commit writes only the
    new batch's files; prior data files are referenced, not rewritten."""
    t = SnapshotTable(spark, tmp_path / "t")
    t.append(_df(spark, [(i, "x") for i in range(1000)]))
    files_before = {f["path"] for f in t.manifest()["files"]}
    t.append(_df(spark, [(9999, "y")]))
    files_after = {f["path"] for f in t.manifest()["files"]}
    assert files_before < files_after  # strictly grew, nothing replaced
    new = files_after - files_before
    new_rows = sum(
        f["rows"] for f in t.manifest()["files"] if f["path"] in new
    )
    assert new_rows == 1


def test_crash_atomicity_half_written_manifest_invisible(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t")
    t.append(_df(spark, [(1, "a")]))
    # simulate a crash mid-commit: a tmp manifest that never got renamed
    (tmp_path / "t" / "_snapshots" / "v000099.json.tmp").write_text("{bro")
    assert t.current_snapshot_id() == 1
    assert [m["snapshot_id"] for m in t.snapshots()] == [1]
    t2 = SnapshotTable(spark, tmp_path / "t")  # reopen
    assert t2.rows() == 1


def test_expire_snapshots_deletes_unreferenced_files(spark, tmp_path):
    t = SnapshotTable(spark, tmp_path / "t")
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(3, "c")]))
    stats = t.expire_snapshots(keep_last=1)
    assert stats["snapshots_expired"] == 2 and stats["files_deleted"] >= 2
    assert {r["k"] for r in t.read().collect()} == {3}
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_snapshot_based_incremental_dedup_resume(spark, tmp_path):
    """Resume-from-snapshot: the dedup hash table is maintained as
    snapshot commits; a re-run after a 'crash' resumes from the last
    committed snapshot and replaying a batch cannot double-count."""
    from cc_net_spark.operators import exact_dedup as ed

    hashes = SnapshotTable(spark, tmp_path / "hashes")

    def batch(rows):
        docs = spark.createDataFrame(rows, "doc_id long, raw_content string")
        return ed.build_hashes(
            ed.paragraph_hashes(docs, "raw_content", "doc_id")
        ).withColumn("is_dup", F.col("is_dup"))

    # batch 1 commits; 'crash'; batch 1 replays as a MERGE (idempotent)
    hashes.merge_into(batch([(1, "x\ny"), (2, "y\nz")]), keys=["hash"])
    rows_after_b1 = hashes.rows()
    hashes.merge_into(batch([(1, "x\ny"), (2, "y\nz")]), keys=["hash"])
    assert hashes.rows() == rows_after_b1  # replay did not duplicate
    # batch 2 appends only genuinely new hashes (left_anti vs snapshot)
    b2 = batch([(3, "y\nw")])
    new_only = b2.join(hashes.read().select("hash"), "hash", "left_anti")
    hashes.append(new_only)
    # final table: y is NOT double-counted (merge kept one row per hash)
    n_distinct = hashes.read().select("hash").distinct().count()
    assert hashes.rows() == n_distinct


def test_stage_runner_on_snapshot_backend(spark, tmp_path):
    """StageRunner(use_snapshots=True): same resume semantics, plus a
    force re-run commits a NEW snapshot while the previous stage output
    stays readable (time travel)."""
    from cc_net_spark.plans.dag import Stage, StageRunner

    calls = {"n": 0}

    def build(s):
        calls["n"] += 1
        return s.range(0, 10 + calls["n"])  # content differs per run

    r = StageRunner(spark, tmp_path / "w", use_snapshots=True)
    m1 = r.run([Stage("nums", build)])
    assert m1["nums"]["rows"] == 11 and m1["nums"]["snapshot_id"] == 1
    # re-run skips (manifest + snapshot lineage intact)
    m2 = r.run([Stage("nums", build)])
    assert m2["nums"].get("skipped") and calls["n"] == 1
    # force: new snapshot, old one still readable
    m3 = r.run([Stage("nums", build)], force=True)
    assert m3["nums"]["rows"] == 12 and m3["nums"]["snapshot_id"] == 2
    t = SnapshotTable(spark, tmp_path / "w" / "nums")
    assert t.read(snapshot_id=1).count() == 11
    assert r.load("nums").count() == 12


def test_pipeline_on_snapshot_backend_matches_plain(spark, tmp_path):
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
    from cc_net_spark.sources import synth

    p = tmp_path / "clips.parquet"
    synth.generate_clips(spark, 48, seed=42, with_audio=False).write.parquet(str(p))
    cfg = NearDupConfig()
    plain, _ = run_near_dup_pipeline(spark, str(p), str(tmp_path / "a"), cfg)
    snap, m = run_near_dup_pipeline(
        spark, str(p), str(tmp_path / "b"), cfg, use_snapshots=True
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in snap.collect()}
    assert m["clusters"]["snapshot_id"] == 1


def test_pipeline_estimated_jaccard_path(spark, tmp_path):
    """keep_shingles=False (extreme-scale config): signature-estimated
    Jaccard verification yields the same planted clusters."""
    from cc_net_spark.plans.pipeline import NearDupConfig, run_near_dup_pipeline
    from cc_net_spark.sources import synth

    n = 64
    p = tmp_path / "clips.parquet"
    synth.generate_clips(spark, n, seed=42, with_audio=False).write.parquet(str(p))
    cfg = NearDupConfig(keep_shingles=False)
    clusters, _ = run_near_dup_pipeline(spark, str(p), str(tmp_path / "w"), cfg)
    got = {r["clip_id"]: r["cluster_id"] for r in clusters.collect()}
    exp = {
        r["clip_id"]: r["cluster_id"]
        for r in synth.expected_clusters(spark, n).collect()
    }
    assert got == exp


def test_stage_runner_detects_out_of_band_snapshot_advance(spark, tmp_path):
    """A stage table advanced outside the runner (sanctioned append via
    SnapshotTable) must NOT be skipped with stale lineage: is_complete
    compares the manifest's snapshot_id against CURRENT."""
    from cc_net_spark.plans.dag import Stage, StageRunner

    r = StageRunner(spark, tmp_path / "w", use_snapshots=True)
    r.run([Stage("nums", lambda s: s.range(0, 5))])
    # out-of-band advance
    t = SnapshotTable(spark, tmp_path / "w" / "nums")
    t.append(spark.range(100, 103))
    m = r.run([Stage("nums", lambda s: s.range(0, 5))])
    assert not m["nums"].get("skipped")  # re-ran, did not serve stale lineage
    assert r.load("nums").count() == 5

