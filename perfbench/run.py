"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_cluster --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. Every file it writes goes under
``perfbench/.work``. The last line of standard output is the result JSON;
the lines before it give every metric with its unit and sample count,
the seed and the corpus size. With ``--trace 0`` the result holds the
end-to-end metrics. With ``--trace 1`` it holds the per-layer metrics,
from a run that measures one session without Spark's event log and then
one with it. Exits non-zero when an operation fails or its output is
wrong. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def _setenv(run_dir: Path) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    the Python workers import the program; the one engine setting the
    benchmark supplies is the core count."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file for jps/jstat
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@dataclass
class Op:
    wall_s: float
    spans: list
    out: Path
    error: str | None = None
    check: object = None


@dataclass
class Phase:
    start_s: float
    warmup_s: float
    ready_at: float
    warmed: object  # what the warm-up returned
    ops: list[Op] = field(default_factory=list)

    def good(self) -> list[Op]:
        return [op for op in self.ops if op.error is None and op.check.ok]

    def median_wall(self) -> float:
        walls = [op.wall_s for op in self.good()] or [op.wall_s for op in self.ops]
        return statistics.median(walls)


def _run_phase(wl, clips, phase_dir, seconds, mem, extra_conf=None, warm_up=None):
    """Start a session, warm it up untimed (by default with one op), then
    run closed-loop ops until ``seconds`` have passed; the session stays
    up for the checks."""
    from cc_net_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(extra_conf=extra_conf)
    t1 = time.time()
    _log(f"session up in {t1 - t0:.1f} s")
    warmed = (warm_up or (lambda s: wl.op(s, clips, phase_dir / "warmup")))(spark)
    t2 = time.time()
    _log(f"warm-up {t2 - t1:.1f} s, summed VmHWM {mem.sample() / 1024:.0f} MB")
    phase = Phase(start_s=t1 - t0, warmup_s=t2 - t1, ready_at=t2, warmed=warmed)
    while not phase.ops or time.time() - t2 < seconds:
        out = phase_dir / f"op{len(phase.ops)}"
        t = time.time()
        try:
            spans, error = wl.op(spark, clips, out), None
        except Exception as e:  # a failed op is counted, not fatal
            spans, error = [], f"{type(e).__name__}: {e}"
        phase.ops.append(Op(time.time() - t, spans, out, error))
        _log(f"op {len(phase.ops) - 1}: {phase.ops[-1].wall_s:.2f} s, "
             f"summed VmHWM {mem.sample() / 1024:.0f} MB")
        if error:
            _log(f"op {len(phase.ops) - 1} failed: {error}")
            break
    return spark, phase


def _check(wl, oracle, phase) -> None:
    for op in phase.ops:
        if op.error is None:
            op.check = wl.check(op.out, oracle)
            if not op.check.ok:
                _log(f"{op.out.name}: wrong output: {op.check.detail}")
    _log("outputs checked")


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    from pyspark import SparkContext

    from perfbench.procmem import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = [proc.pid, *descendants(proc.pid)]
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in spawned):
        time.sleep(0.1)
    for p in spawned:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median_op(phase: Phase) -> Op:
    ops = sorted(phase.good() or phase.ops, key=lambda op: op.wall_s)
    return ops[(len(ops) - 1) // 2]


def _layers(wl, untraced: Phase, traced: Phase, episode, oracle, log) -> dict:
    """Per-layer values of the traced phase's median op (one op, so the
    stage walls and the DAG overhead add up to the pipeline wall) and of
    the ingest episode's shards.

    The untraced session runs before the traced one in the same JVM, so
    ``trace.overhead_frac`` compares it with a slightly colder JVM and
    errs low."""
    from perfbench import metrics
    from perfbench.eventlog import Span, span_metrics

    fields = {f for f, _ in metrics.SPAN_FIELDS}
    op = _median_op(traced)
    vals = {name: 0.0 for name, _, _ in metrics.PER_LAYER}
    for span in op.spans:
        for k, v in span_metrics(log, span).items():
            if k in fields:
                vals[f"{span.name}.{k}"] = v
    start = min(s.start_s for s in op.spans)
    end = max(s.end_s for s in op.spans)
    vals["spark.gc_s"] = span_metrics(log, Span("op", start, end))["gc_s"]
    if "pipeline.run" in {s.name for s in op.spans}:
        stage_walls = sum(s.end_s - s.start_s for s in op.spans if s.name != "pipeline.run")
        vals["dag.overhead_s"] = vals["pipeline.run.wall_s"] - stage_walls
    vals.update(wl.layer_metrics(op.out, oracle, op.check))
    if episode is not None:
        from perfbench.workloads import ingest_layers

        vals.update(ingest_layers(episode, log))
    vals["session.start_s"] = untraced.start_s
    vals["session.warmup_s"] = untraced.warmup_s
    vals["trace.overhead_frac"] = traced.median_wall() / untraced.median_wall() - 1.0
    unknown = set(vals) - {name for name, _, _ in metrics.PER_LAYER}
    if unknown:
        raise RuntimeError(f"per-layer values missing from metrics.PER_LAYER: {sorted(unknown)}")
    return vals


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    from perfbench.procmem import PeakRss, process_start_epoch

    t_proc = process_start_epoch()
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    _setenv(run_dir)
    try:
        from perfbench import corpus, metrics, workloads
    except ImportError as e:
        print(f"cannot import the program or the benchmark: {e}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    t = time.time()
    clips = corpus.clips(WORK, wl.name, args.seed, wl.n_clips)
    gen_s = time.time() - t
    mem = PeakRss()
    spark, untraced = _run_phase(
        wl, clips, run_dir / "untraced", args.seconds / 2 if args.trace else args.seconds, mem
    )
    setup_s = untraced.ready_at - t_proc - gen_s
    oracle = wl.oracle(spark, clips)
    _check(wl, oracle, untraced)
    phases = {"untraced": untraced}
    episode = None
    if args.trace:
        # a second session with the event log on measures the other half
        # of the time; on a workload with an ingest episode, the episode
        # (whose untimed backfill warms the session) stands in for the
        # warm-up op
        from perfbench.eventlog import read_event_log

        log_dir = run_dir / "eventlog"
        log_dir.mkdir(parents=True)
        spark.stop()
        spark, traced = _run_phase(
            wl, clips, run_dir / "traced", args.seconds / 2, mem,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
            warm_up=(
                (lambda s: workloads.ingest_episode(s, clips, run_dir / "ingest"))
                if wl.ingest else None
            ),
        )
        _check(wl, oracle, traced)
        phases["traced"] = traced
        if wl.ingest:
            episode = traced.warmed
            _log(f"ingest: backfill {episode.backfill_s:.2f} s, shards "
                 f"{[round(sh.wall_s, 2) for sh in episode.shards if sh.fold]}")
            workloads.ingest_check(spark, episode, oracle)
            for sh in episode.shards:
                if not sh.ok:
                    _log(f"ingest shard wrong or failed: {sh.error or sh.check.detail}")
    _shutdown(spark)
    _log("session stopped")

    shards = episode.shards if episode else []
    attempted = sum(len(p.ops) for p in phases.values()) + len(shards)
    failed = attempted - sum(len(p.good()) for p in phases.values()) - sum(sh.ok for sh in shards)
    checks = [op.check for op in untraced.ops if op.check is not None]
    samples = len(untraced.good())
    if args.trace and not failed:
        values = _layers(wl, untraced, traced, episode, oracle, read_event_log(log_dir))
        values["spark.peak_rss_mb"] = mem.peak_mb
        counts = {
            "session.start_s": "1 set-up",
            "session.warmup_s": "1 set-up",
            "spark.peak_rss_mb": "max over the run",
            "trace.overhead_frac": f"medians of {len(traced.ops)} traced and "
                                   f"{len(untraced.ops)} untraced ops",
            "incremental_neardup.backfill_s": "1 backfill",
        }
        n = f"median of {len(traced.ops)} traced ops"
        if not shards:
            n_shards = "not run by this workload"
        else:
            n_shards = f"median of {len(shards)} shards"
            counts.update((name, "after the last shard") for name in metrics.INGEST_FINAL)
        report = {
            name: (values[name], unit, counts.get(
                name, n_shards if name.startswith(("incremental_", "ingest.")) else n
            ))
            for name, unit, _ in metrics.PER_LAYER
        }
    else:
        values = {
            "clips_per_s": wl.n_clips / untraced.median_wall(),
            "setup_s": setup_s,
            "dup_pair_recall": min((c.recall for c in checks), default=0.0),
            "pair_precision": min((c.precision for c in checks), default=0.0),
        }
        counts = {"clips_per_s": f"median of {samples} ops", "setup_s": "1 set-up"}
        report = {
            name: (values[name], unit, counts.get(name, f"min over {len(checks)} ops"))
            for name, unit, _, _ in metrics.END_TO_END
        }
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "clips": wl.n_clips,
        "corpus_gen_s": round(gen_s, 3),
        "op_walls_s": {k: [round(op.wall_s, 3) for op in p.ops] for k, p in phases.items()},
        "shard_walls_s": [round(sh.wall_s, 3) for sh in shards if sh.fold],
        "history_clips": workloads.n_rows(episode.history) if episode else 0,
        "shard_clips": [len(sh.ids) for sh in shards],
    }))
    for name, (value, unit, n) in report.items():
        print(f"{name} = {value:.6g} {unit} ({n})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": v, "unit": u} for name, (v, u, _) in report.items()},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
