"""Splitting a corpus into the ingest episode's history and shards."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.workloads import INGEST_SHARDS, _growth, ingest_inputs


def _ids(path):
    return sorted(pq.read_table(path, columns=["clip_id"])["clip_id"].to_pylist())


def test_history_and_shards_partition_the_corpus(tmp_path):
    clips = tmp_path / "corpus"
    clips.mkdir()
    ids = [f"clip-{i:09d}" for i in range(80)]  # 10 groups of 8
    for k in range(2):
        part = ids[k * 40:(k + 1) * 40]
        pq.write_table(pa.table({"clip_id": part, "transcript": ["t"] * 40}),
                       clips / f"part-{k:05d}.parquet")
    history, shards = ingest_inputs(clips)
    assert len(shards) == INGEST_SHARDS
    assert {int(c[-9:]) % 8 for c in _ids(history)} == {0, 5, 6}
    seen = _ids(history)
    for k, shard in enumerate(shards):
        got = _ids(shard)
        assert {int(c[-9:]) % 8 for c in got} == {1, 2, 3, 4, 7}
        groups = sorted({int(c[-9:]) // 8 for c in got})
        # contiguous group ranges, in arrival order
        assert groups == list(range(groups[0], groups[-1] + 1))
        assert k == 0 or groups[0] > max(int(c[-9:]) // 8 for c in _ids(shards[k - 1]))
        seen += got
    assert sorted(seen) == ids
    # cached: a second call reuses the files
    mtime = (history / "part-00000.parquet").stat().st_mtime_ns
    assert ingest_inputs(clips) == (history, shards)
    assert (history / "part-00000.parquet").stat().st_mtime_ns == mtime


def test_growth_is_last_third_over_first_third():
    assert _growth([2.0, 3.0]) == pytest.approx(1.5)
    assert _growth([1.0, 1.0, 5.0, 2.0, 2.0, 4.0]) == pytest.approx(3.0)
