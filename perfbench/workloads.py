"""The benchmark's workloads: one user-facing entry point each.

A workload supplies

* ``op(spark, clips, out)`` — one closed-loop operation on the corpus,
  writing under ``out`` and returning the spans it timed;
* ``oracle(spark, clips)`` — the expected result, built once per run;
* ``check(out, oracle)`` — compares one operation's output with the
  oracle (recall, precision, pass/fail and per-layer counts);
* ``layer_metrics(out, oracle, check)`` — the per-layer values the
  event log cannot give.

``batch_cluster``'s traced run also drives the incremental path once
(``ingest_episode``): a history backfill, then shards that arrive one
after another.

Span names are ``<module>.<span>``. Layers a workload does not run read
0 in its traced output.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from cc_net_spark.functions.normalize import normalize_for_dedup
from cc_net_spark.plans.mine import mine
from cc_net_spark.plans.pipeline import run_near_dup_pipeline
from cc_net_spark.sources import synth
from cc_net_spark.streaming.incremental_clusters import (
    IncrementalClusters,
    fold_new_batches,
)
from cc_net_spark.streaming.incremental_neardup import IncrementalNearDup

from perfbench.eventlog import Span, span_metrics, stage_spans
from perfbench.metrics import SPAN_FIELDS, STAGE_SPANS

# an operation's output counts as correct at this dup-pair recall (the
# repo's quality target) and pair precision (a floor against over-merging
# into mega-clusters; the exact value is the pair_precision metric's job)
MIN_RECALL = 0.99
MIN_PRECISION = 0.95

PAIR_STAGES = ("exact_pairs", "minhash_pairs", "simhash_pairs", "substring_pairs")


@dataclass
class Check:
    ok: bool
    recall: float
    precision: float
    detail: str
    counts: dict


@dataclass
class Workload:
    name: str
    why: str
    n_clips: int
    op: Callable[..., list[Span]]
    oracle: Callable
    check: Callable[[Path, object], Check]
    layer_metrics: Callable[[Path, object, Check], dict]
    ingest: bool = False  # the traced run also runs ``ingest_episode``


def _fresh(out: Path) -> None:
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)


def _pair_precision(pred: pd.Series, truth: pd.Series) -> float:
    """Share of co-clustered pairs in ``pred`` that ``truth`` co-clusters
    too; both map the same ids to cluster labels."""
    def n_pairs(sizes: pd.Series) -> float:
        return float((sizes * (sizes - 1) // 2).sum())

    both = pd.DataFrame({"p": pred.to_numpy(), "t": truth.to_numpy()})
    predicted = n_pairs(both.groupby("p").size())
    if predicted == 0:
        return 0.0
    return n_pairs(both.groupby(["p", "t"]).size()) / predicted


# -- batch_cluster --------------------------------------------------------


def batch_op(spark, clips: Path, out: Path) -> list[Span]:
    _fresh(out)
    t0 = time.time()
    run_near_dup_pipeline(spark, str(clips), str(out / "dag"))
    t1 = time.time()
    spans = [Span("pipeline.run", t0, t1)]
    for st in stage_spans(out / "dag"):
        if st.name in STAGE_SPANS:
            spans.append(Span(STAGE_SPANS[st.name], st.start_s, st.end_s))
    return spans


def cluster_oracle(spark, clips: Path) -> dict:
    n = n_rows(clips)
    pairs = synth.expected_dup_pairs(spark, n).toPandas()
    truth = synth.expected_clusters(spark, n).toPandas().set_index("clip_id")["cluster_id"]
    return {"pairs": pairs, "truth": truth}


def batch_check(out: Path, oracle: dict) -> Check:
    pred = pq.read_table(out / "dag" / "clusters").to_pandas()
    truth = oracle["truth"]
    if len(pred) != len(truth) or pred["clip_id"].duplicated().any():
        return Check(False, 0.0, 0.0, f"{len(pred)} cluster rows for {len(truth)} clips", {})
    label = pred.set_index("clip_id")["cluster_id"]
    if not label.index.isin(truth.index).all():
        return Check(False, 0.0, 0.0, "clusters hold ids outside the corpus", {})
    pairs = oracle["pairs"]
    recall = float(
        (label.loc[pairs["clip_id_a"]].to_numpy() == label.loc[pairs["clip_id_b"]].to_numpy()).mean()
    )
    precision = _pair_precision(label.loc[truth.index], truth)
    ok = recall >= MIN_RECALL and precision >= MIN_PRECISION
    return Check(ok, recall, precision, f"recall {recall:.4f} precision {precision:.4f}", {})


def batch_layers(out: Path, oracle: dict, check: Check) -> dict:
    dag = out / "dag"
    manifests = {
        p.stem: json.loads(p.read_text()) for p in (dag / "_manifest").glob("*.json")
    }
    vals = {f"{STAGE_SPANS[s]}.rows": float(m["rows"]) for s, m in manifests.items() if s in STAGE_SPANS}
    pairgen = manifests.get("simhash_pairs", {}).get("metrics", {}).get("pairgen", {})
    vals["simhash.buckets_dropped"] = float(pairgen.get("n_buckets_dropped", 0))
    vals["simhash.rows_dropped"] = float(pairgen.get("n_rows_dropped", 0))
    families: Counter = Counter()
    for stage in PAIR_STAGES:
        if (dag / stage).exists():
            edges = pq.read_table(dag / stage, columns=["id_a", "id_b"]).to_pandas()
            lo = edges.min(axis=1)
            hi = edges.max(axis=1)
            families.update(set(zip(lo, hi)))
    truth = oracle["truth"]
    n_edges = len(families)
    vals["pairs.redundant_frac"] = (
        sum(1 for c in families.values() if c > 1) / n_edges if n_edges else 0.0
    )
    vals["pairs.useful_frac"] = (
        sum(1 for a, b in families if truth[a] == truth[b]) / n_edges if n_edges else 0.0
    )
    return vals


# -- mine_dedup -----------------------------------------------------------


def mine_op(spark, clips: Path, out: Path) -> list[Span]:
    _fresh(out)
    # as ``python -m cc_net_spark mine`` runs it
    t0 = time.time()
    docs = spark.read.parquet(str(clips))
    res = mine(
        spark, docs, text_col="transcript", id_col="clip_id",
        output_path=str(out / "docs"),
    )
    t1 = time.time()
    res["metadata"].write.mode("overwrite").parquet(str(out / "metadata"))
    t2 = time.time()
    return [Span("mine.docs", t0, t1), Span("mine.metadata", t1, t2)]


def _line_hash(line: str) -> int:
    digest = hashlib.sha1(normalize_for_dedup(line).encode("utf-8")).digest()
    return int.from_bytes(digest[:8], "little", signed=True)


def paragraph_oracle(spark, clips: Path) -> dict:
    """In-process two-pass paragraph dedup of the corpus: every copy of
    any paragraph hash seen twice or more is dropped."""
    corpus = pq.read_table(clips, columns=["clip_id", "transcript"]).to_pandas()
    docs = {
        cid: [(line, _line_hash(line)) for line in text.split("\n")]
        for cid, text in zip(corpus["clip_id"], corpus["transcript"])
    }
    counts = Counter(h for lines in docs.values() for _, h in lines)
    return {
        cid: {
            "dup": [counts[h] > 1 or h == 0 for _, h in lines],
            "lines": [line for line, _ in lines],
        }
        for cid, lines in docs.items()
    }


def mine_check(out: Path, oracle: dict) -> Check:
    got = ds.dataset(out / "docs", format="parquet", partitioning="hive").to_table(
        columns=["clip_id", "transcript", "line_ids"]
    ).to_pandas()
    n_meta = pq.read_table(out / "metadata").num_rows
    if n_meta != len(got):
        return Check(False, 0.0, 0.0, f"{n_meta} metadata rows for {len(got)} docs", {})
    if got["clip_id"].duplicated().any():
        return Check(False, 0.0, 0.0, "a doc is written twice", {})
    bad, dup_total, dup_removed, removed = [], 0, 0, 0
    for cid, text, line_ids in zip(got["clip_id"], got["transcript"], got["line_ids"]):
        ref = oracle.get(cid)
        if ref is None:
            bad.append(cid)
            continue
        kept = [i for i, d in enumerate(ref["dup"]) if not d]
        expected = "\n".join(ref["lines"][i] for i in kept)
        if list(line_ids) != kept or text != expected:
            bad.append(cid)
        kept_set = set(int(i) for i in line_ids)
        for i, d in enumerate(ref["dup"]):
            dup_total += d
            if i not in kept_set:
                removed += 1
                dup_removed += d
    recall = dup_removed / dup_total if dup_total else 1.0
    precision = dup_removed / removed if removed else 1.0
    counts = {"docs_kept": len(got), "paras_kept": int(sum(len(x) for x in got["line_ids"]))}
    if not len(got):
        return Check(False, recall, precision, "no docs written", counts)
    detail = f"{len(bad)} of {len(got)} docs differ from the reference" + (
        f" (first: {bad[0]})" if bad else ""
    )
    return Check(not bad, recall, precision, detail, counts)


def mine_layers(out: Path, oracle: dict, check: Check) -> dict:
    return {f"mine.{k}": float(v) for k, v in check.counts.items()}


# -- incremental ingest (batch_cluster's traced run) ----------------------

# the history batch holds each group's base clip and two singletons; the
# shards bring the rest, in contiguous group ranges, so every shard
# carries planted twins of history rows
HISTORY_ROLES = (0, 5, 6)
INGEST_SHARDS = 2
INGEST_FILES = 4  # Parquet files per batch, so a batch scan splits into tasks
# The default ``minhash`` family has no substring pass, so substring
# pairs (role 4) are not expected. Exact and normalization-variant pairs
# (roles 0-2) must be found. Near pairs (role 3) are reported, not
# gated: their word-5-shingle Jaccard sits around 0.47, below the default
# 0.5 threshold, so the family alone finds about a third of them (the
# batch pipeline finds the rest through SimHash and substring).


@dataclass
class Shard:
    ids: list[str]
    probe: Span | None = None
    fold: Span | None = None
    error: str | None = None
    check: Check | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.check is not None and self.check.ok

    @property
    def wall_s(self) -> float:
        """From the ``process_batch`` call until ``fold_new_batches`` returns."""
        return self.fold.end_s - self.probe.start_s


@dataclass
class Episode:
    history: Path
    backfill_s: float
    shards: list[Shard]
    state: Path
    clusters: Path
    output: Path


def ingest_inputs(clips: Path) -> tuple[Path, list[Path]]:
    """The history batch and the arriving shards, split from the corpus
    once and cached beside it, each as ``INGEST_FILES`` Parquet files."""
    out = clips.with_name(clips.name + "-ingest")
    names = ["history"] + [f"shard{k}" for k in range(1, INGEST_SHARDS + 1)]
    if not (out / "_SUCCESS").exists():
        shutil.rmtree(out, ignore_errors=True)
        table = ds.dataset(clips, format="parquet").to_table()
        index = np.array([int(c.rsplit("-", 1)[1]) for c in table["clip_id"].to_pylist()])
        group, role = np.divmod(index, synth.ROLES_PER_GROUP)
        in_history = np.isin(role, HISTORY_ROLES)
        edges = np.linspace(0, group.max() + 1, INGEST_SHARDS + 1).astype(int)
        masks = [in_history] + [
            ~in_history & (group >= lo) & (group < hi) for lo, hi in zip(edges[:-1], edges[1:])
        ]
        for name, mask in zip(names, masks):
            (out / name).mkdir(parents=True)
            rows = np.array_split(np.flatnonzero(mask), INGEST_FILES)
            for k, part in enumerate(rows):
                pq.write_table(table.take(pa.array(part)), out / name / f"part-{k:05d}.parquet")
        (out / "_SUCCESS").touch()
    return out / names[0], [out / n for n in names[1:]]


def ingest_episode(spark, clips: Path, out: Path) -> Episode:
    """Backfill the history batch untimed, then ingest each shard:
    ``IncrementalNearDup.process_batch`` followed by
    ``fold_new_batches``, both with the program's defaults."""
    _fresh(out)
    history, shard_paths = ingest_inputs(clips)
    ep = Episode(history, 0.0, [], out / "state", out / "clusters", out / "output")
    handler = IncrementalNearDup(str(ep.state), str(ep.output))

    def ingest(path: Path, batch_id: int) -> tuple[Span, Span]:
        t0 = time.time()
        handler.process_batch(spark.read.parquet(str(path)), batch_id)
        t1 = time.time()
        fold_new_batches(spark, str(ep.output), str(ep.clusters))
        t2 = time.time()
        return Span("incremental_neardup.probe", t0, t1), Span("incremental_clusters.fold", t1, t2)

    probe, fold = ingest(history, 0)
    ep.backfill_s = fold.end_s - probe.start_s
    for batch_id, path in enumerate(shard_paths, 1):
        shard = Shard(pq.read_table(path, columns=["clip_id"])["clip_id"].to_pylist())
        ep.shards.append(shard)
        try:
            shard.probe, shard.fold = ingest(path, batch_id)
        except Exception as e:  # a failed shard is counted, not fatal
            shard.error = f"{type(e).__name__}: {e}"
            break
    return ep


def ingest_check(spark, ep: Episode, oracle: dict) -> None:
    """Check the cluster state as it stood after each shard: every
    planted exact and normalization-variant pair among the clips arrived
    so far shares a cluster, and co-clustered pairs are planted. The
    near-pair recall goes into the check's counts."""
    ic = IncrementalClusters(str(ep.clusters))
    seen = pq.read_table(ep.history, columns=["clip_id"])["clip_id"].to_pylist()
    for batch_id, shard in enumerate(ep.shards, 1):
        seen += shard.ids
        if shard.error is not None:
            continue
        assign = ic.current(spark, before=batch_id + 1).toPandas().set_index("clip_id")
        # an arrived clip without an assignment row is its own cluster
        label = pd.Series(seen, index=seen)
        label.update(assign["cluster_id"])
        pairs = oracle["pairs"]
        pairs = pairs[pairs["clip_id_a"].isin(label.index) & pairs["clip_id_b"].isin(label.index)]
        found = label.loc[pairs["clip_id_a"]].to_numpy() == label.loc[pairs["clip_id_b"]].to_numpy()
        recall = float(found[(pairs["kind"] == "exact_paragraph").to_numpy()].mean())
        near = float(found[(pairs["kind"] == "minhash_near").to_numpy()].mean())
        precision = _pair_precision(label, oracle["truth"].loc[label.index])
        ok = recall >= MIN_RECALL and precision >= MIN_PRECISION
        detail = f"exact recall {recall:.4f} near recall {near:.4f} precision {precision:.4f}"
        shard.check = Check(ok, recall, precision, detail, {"near_recall": near})


def _growth(walls: list[float]) -> float:
    """Median of the last third of the batches over the first third."""
    k = max(1, len(walls) // 3)
    return statistics.median(walls[-k:]) / statistics.median(walls[:k])


def _parquet_files(path: Path) -> list[Path]:
    return list(path.rglob("*.parquet"))


def ingest_layers(ep: Episode, log) -> dict:
    """Per-shard medians of the probe and fold spans, plus the state the
    episode left behind."""
    vals = {}
    per_span = {}
    for attr in ("probe", "fold"):
        spans = [getattr(sh, attr) for sh in ep.shards]
        per_span[attr] = [span_metrics(log, span) for span in spans]
        for f, _ in SPAN_FIELDS:
            vals[f"{spans[0].name}.{f}"] = statistics.median(m[f] for m in per_span[attr])
    vals["incremental_neardup.input_mb"] = statistics.median(m["input_mb"] for m in per_span["probe"])
    vals["incremental_neardup.matches"] = statistics.median(
        pq.read_table(ep.output / "pairs" / f"_batch_id={b}").num_rows
        for b in range(1, len(ep.shards) + 1)
    )
    state = _parquet_files(ep.state)
    vals["incremental_neardup.state_files"] = float(len(state))
    vals["incremental_neardup.state_mb"] = sum(p.stat().st_size for p in state) / 1e6
    vals["incremental_clusters.state_files"] = float(len(_parquet_files(ep.clusters)))
    vals["incremental_neardup.probe_growth"] = _growth([m["wall_s"] for m in per_span["probe"]])
    vals["incremental_clusters.fold_growth"] = _growth([m["wall_s"] for m in per_span["fold"]])
    vals["incremental_neardup.backfill_s"] = ep.backfill_s
    vals["ingest.shard_wall_s"] = statistics.median(sh.wall_s for sh in ep.shards)
    vals["incremental_neardup.exact_recall"] = ep.shards[-1].check.recall
    vals["incremental_neardup.near_recall"] = ep.shards[-1].check.counts["near_recall"]
    vals["incremental_clusters.pair_precision"] = ep.shards[-1].check.precision
    return vals


def n_rows(path: Path) -> int:
    return sum(pq.read_metadata(p).num_rows for p in path.glob("*.parquet"))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_cluster",
            "flagship near-dup pipeline: one signature scan, four pair families and connected components over the corpus",
            2000, batch_op, cluster_oracle, batch_check, batch_layers, ingest=True,
        ),
        Workload(
            "mine_dedup",
            "cc_net mine: two-pass paragraph dedup, LID, LM scoring, split_by_lang sink; bypasses MinHash, LSH, the DAG runner and CC",
            2000, mine_op, paragraph_oracle, mine_check, mine_layers,
        ),
    )
}
