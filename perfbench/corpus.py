"""Seeded synthetic corpora, generated once per (workload, seed, size).

``synth.generate_clips`` builds the corpus row by row inside a
``spark.range(...).mapInPandas(gen)`` plan. The benchmark runs that same
function over a pandas stand-in for the session, so generating a corpus
starts no JVM and does not warm the Spark workers whose start-up the
benchmark's set-up time measures. The partitioning matches a Spark run
(one Parquet file per ``spark.range`` partition), so the program's scans
split the same way.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cc_net_spark.sources import synth

GEN_PROCS = 4

CLIPS_SCHEMA = pa.schema([
    ("clip_id", pa.string()),
    ("bytes", pa.binary()),
    ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()),
    ("codec", pa.string()),
    ("transcript", pa.string()),
])


class _PandasRange:
    def __init__(self, start: int, end: int, step: int, parts: int, part: int | None):
        self.n_parts = parts
        self.ids = None
        if part is not None:
            self.ids = np.array_split(np.arange(start, end, step, dtype=np.int64), parts)[part]

    def mapInPandas(self, fn, schema):  # noqa: N802 - mirrors the Spark API
        if self.ids is None:
            return None
        return pd.concat(list(fn(iter([pd.DataFrame({"id": self.ids})]))), ignore_index=True)


class _PandasSession:
    """Just enough of ``SparkSession`` for ``synth.generate_clips``. Its
    ``range`` yields one partition of the ids, so partitions can be
    generated by separate processes; with ``part=None`` it only records
    the partition count."""

    def __init__(self, part: int | None):
        self.part = part
        self.n_parts = 0

    def range(self, start, end, step=1, numPartitions=None):  # noqa: N803
        rng = _PandasRange(start, end, step, numPartitions or 1, self.part)
        self.n_parts = rng.n_parts
        return rng


def _generate(session: _PandasSession, seed: int, n_clips: int):
    return synth.generate_clips(session, n_clips, seed=seed, size_scale=3, with_audio=False)


def _write_parts(out: Path, seed: int, n_clips: int, first: int, stride: int) -> None:
    probe = _PandasSession(None)
    _generate(probe, seed, n_clips)
    for part in range(first, probe.n_parts, stride):
        frame = _generate(_PandasSession(part), seed, n_clips)
        table = pa.Table.from_pandas(frame, schema=CLIPS_SCHEMA, preserve_index=False)
        pq.write_table(table, out / f"part-{part:05d}.parquet")


def clips(work: Path, workload: str, seed: int, n_clips: int) -> Path:
    """Path of the cached clips table, generating it on first use."""
    out = work / "corpus" / f"{workload}-seed{seed}-n{n_clips}"
    if (out / "_SUCCESS").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.corpus", str(tmp), str(seed), str(n_clips),
             str(k), str(GEN_PROCS)],
            cwd=Path(__file__).resolve().parent.parent,
        )
        for k in range(GEN_PROCS)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"corpus generation failed: exit codes {codes}")
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    # one generator process: python -m perfbench.corpus OUT SEED N FIRST STRIDE
    _out, _seed, _n, _first, _stride = sys.argv[1:]
    _write_parts(Path(_out), int(_seed), int(_n), int(_first), int(_stride))
