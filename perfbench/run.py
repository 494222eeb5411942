"""Benchmark of the production entry points on ``local[<cores>]``.

    python3 perfbench/run.py --workload synth_batch --seed 1 --seconds 5 --trace 0

``synth_batch`` runs ``plans.job.run`` once right after session set-up;
``synth_stream`` runs ``streaming.stream.stateful_pipeline`` one file per
trigger, 1 + max(2, round(seconds / 3)) triggers (see perfbench/README.md).
The input is the block of a seeded ``synth_transcripts`` pool that ``--seed``
selects (``inputs.py``), made before the session starts, and every
operation's output is checked against the pandas oracle after the timed
work. The last stdout line is one JSON object: ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separately
traced run (batch: two traced ``plans.job.run``, then an untraced one).
Scratch files live under ``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Both read the same seeded synth_transcripts corpus (inputs.py); the
# stream's has no PII suffix.
WORKLOADS = {"synth_batch": "batch", "synth_stream": "stream"}
LAYER_UNITS = {"wall_s": "s", "cpu_s": "s", "run_s": "s", "tasks": "count", "shuffle_bytes": "B"}
STREAM_LAYER = {
    "stream.add_batch_s": "s", "stream.planning_s": "s", "stream.wal_commit_s": "s",
    "stream.state_rows": "count", "stream.state_mb": "MB", "stream.cpu_s_per_epoch": "s",
}
PROPERTY_UNITS = {
    "miner.sigs_per_turn": "ratio", "miner.templates": "count", "miner.leaves": "count",
    "miner.max_leaf_sigs": "count", "miner.giant_leaves": "count",
}


def _env(work: str) -> None:
    """Make the package importable by Python workers and keep every file
    Spark, the JVM and Python write inside the repository."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with ten
    or fewer samples no percentile qualifies and the maximum is reported."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], f"max of {len(s)}"
    k = len(s) - 11
    return s[k], f"p{100 * (k + 1) / len(s):.0f} of {len(s)}"


def _m(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "log_parser_mind_spark")):
        print(f"perfbench: package log_parser_mind_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _run(args, work: str) -> dict:
    from perfbench import checks, inputs, probes, workloads

    kind = WORKLOADS[args.workload]
    batch = kind == "batch"
    t0 = time.perf_counter()
    cache = inputs.prepare(args.seed)
    with open(os.path.join(cache, f"{kind}.json")) as fh:
        expected = json.load(fh)
    turns = expected["n_turns"]
    if batch:
        data, files = os.path.join(cache, "transcripts"), None
    else:
        # One file for the cold first trigger, then one per ~3 s of window.
        data = os.path.join(work, "input")
        files = inputs.stream_files(cache, data, 1 + max(2, round(args.seconds / 3)))
    print(f"[perfbench] {args.workload} seed={args.seed} turns={turns} trace={args.trace} "
          f"input+oracle {time.perf_counter() - t0:.1f}s", flush=True)

    # ---- measured: session set-up, then the workload's operations --------
    t0 = time.perf_counter()
    spark, setup_wall_s, setup_s = probes.start_session()
    try:
        conf = dict(sorted(spark.sparkContext.getConf().getAll()))
        print(f"[perfbench] spark conf {json.dumps(conf)}", flush=True)
        with probes.ProcSampler(probes.jvm_pid()) as proc:
            if not batch:
                ops = workloads.stream_op(spark, data, os.path.join(work, "wh"))
            elif args.trace:
                ops = [workloads.traced_job(spark, data, work, 0), workloads.traced_job(spark, data, work, 1),
                       workloads.job_op(spark, data, work, 2)]
            else:
                ops = [workloads.job_op(spark, data, work, 0)]
        totals = probes.stage_totals(spark)
        t1 = time.perf_counter()
    finally:
        probes.stop_session(spark)
    print(f"[perfbench] session {setup_wall_s:.1f}s ({setup_s:.1f} CPU s), operations {t1 - t0 - setup_wall_s:.1f}s, "
          f"stop {time.perf_counter() - t1:.1f}s", flush=True)
    t0 = time.perf_counter()

    # ---- correctness gate and metrics, after the session is gone ----------
    if batch:
        failures = [[op.error] if op.error else checks.check_batch(op.root, expected) for op in ops]
        whole = totals.get(ops[-1].group, probes.StageTotals())
        first_root = ops[0].root
    else:
        per_trigger, final = checks.check_stream(ops.root, files, expected)
        if ops.error:
            per_trigger[-1].append(ops.error)
        per_trigger[-1].extend(final)
        failures = per_trigger
        whole = totals.get(ops.job_group, probes.StageTotals())
        first_root = ops.root
    for i, problems in enumerate(failures):
        for p in problems:
            print(f"[perfbench] operation {i}: {p}", file=sys.stderr, flush=True)
    failed = sum(1 for p in failures if p)
    props = expected["properties"]
    print(f"[perfbench] properties {json.dumps(props)}", flush=True)
    print(f"[perfbench] failed_frac {failed / len(failures):.4f} ({failed} of {len(failures)} operations), "
          f"checked in {time.perf_counter() - t0:.1f}s", flush=True)

    # Operation windows (start, seconds) and turns. The first operation is
    # the cold one; the warm samples are the triggers after it (stream) or
    # the untraced run after the two traced ones (batch, traced run only).
    if batch:
        windows, op_turns = [(op.start, op.wall_s) for op in ops], [turns] * len(ops)
    else:
        windows, op_turns = ops.triggers, [len(f) for f in files]
    first = 2 if batch and args.trace else 1
    if len(windows) < (1 if batch and not args.trace else first + 1):
        raise RuntimeError(f"only {len(windows)} operations completed; too few to measure")
    later, later_turns = windows[first:], op_turns[first:len(windows)]
    cold_t, cold_s = windows[0]
    timing = {
        "setup_wall_s": setup_wall_s, "cold_job_s": cold_s, "peak_rss_mb": proc.peak_mb,
        "cold_cpu_s": proc.cpu_between(cold_t, cold_t + cold_s), "task_cpu_s": whole.cpu_s,
    }
    if later:
        samples = [w for _, w in later]
        tail_s, tail_label = tail(samples)
        timing.update({
            "turns_per_s": sum(later_turns) / sum(samples),
            "epoch_p50_s": statistics.median(samples),
            "epoch_tail_s": tail_s,
            "cpu_ms_per_turn": 1e3 * statistics.median(
                proc.cpu_between(t, t + w) / n for (t, w), n in zip(later, later_turns)
            ),
        })
        print(f"[perfbench] latencies after the first operation {[round(s, 3) for s in samples]} "
              f"(epoch_tail_s = {tail_label})", flush=True)
    print(f"[perfbench] timings {json.dumps(timing)}", flush=True)
    if args.trace:
        metrics = _layer_metrics(totals, setup_wall_s, ops if batch else None, None if batch else ops, whole)
        metrics.update({k: _m(v, PROPERTY_UNITS[k]) for k, v in props.items()})
        metrics["job.turns_per_s"] = _m(timing["turns_per_s"], "1/s")
        metrics["job.cpu_ms_per_turn"] = _m(timing["cpu_ms_per_turn"], "ms")
        metrics["job.peak_rss_mb"] = _m(timing["peak_rss_mb"], "MB")
        for k in ("epoch_p50_s", "epoch_tail_s"):
            metrics[f"stream.{k}"] = _m(0.0 if batch else timing[k], "s")
    else:
        metrics = {
            "setup_s": _m(setup_s, "s"),
            "input_rows_per_turn": _m(whole.input_records / turns, "ratio"),
            "stored_bytes_per_turn": _m(probes.tree_bytes(first_root) / turns, "B"),
        }
    return {"correct": failed == 0, "attempted": len(failures), "failed": failed, "metrics": metrics}


def _layer_metrics(totals, setup_wall_s, batch_ops, stream, whole) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0.

    Batch layers come from the second (warm) traced run, their cold excess
    is the first traced run minus the second, and the tracing overhead is
    the second traced run minus the untraced run that follows it."""
    from perfbench import probes
    from perfbench.workloads import LAYERS

    zero = probes.StageTotals()
    cold_spans = warm_spans = {}
    tag, overhead = None, 0.0
    if batch_ops:
        cold, warm, plain = batch_ops
        cold_spans, warm_spans, tag = cold.spans, warm.spans, warm.group
        overhead = warm.wall_s - plain.wall_s
    rows = {"session": (setup_wall_s, totals.get(None, zero))}
    rows.update({layer: (warm_spans.get(layer, 0.0), totals.get(f"{tag}:{layer}", zero)) for layer in LAYERS})
    out = {}
    for layer, (wall, t) in rows.items():
        vals = {"wall_s": wall, "cpu_s": t.cpu_s, "run_s": t.run_s, "tasks": t.tasks, "shuffle_bytes": t.shuffle_bytes}
        out.update({f"{layer}.{k}": _m(vals[k], u) for k, u in LAYER_UNITS.items()})
    for layer in LAYERS:
        out[f"{layer}.cold_excess_s"] = _m(cold_spans.get(layer, 0.0) - warm_spans.get(layer, 0.0), "s")
    out["trace.overhead_s"] = _m(overhead, "s")
    out["trace.total_s"] = _m(sum(warm_spans.values(), 0.0), "s")
    if batch_ops:
        # The traced plan materializes every layer, so its spans do not add
        # up to the untraced job; the shares show where the traced time went.
        wall, cpu = sum(warm_spans.values()), sum(out[f"{layer}.cpu_s"]["value"] for layer in LAYERS)
        shares = {layer: [round(warm_spans.get(layer, 0.0) / wall, 3), round(out[f"{layer}.cpu_s"]["value"] / cpu, 3)]
                  for layer in LAYERS}
        print(f"[perfbench] layer shares of the traced run [wall, task cpu] {json.dumps(shares)}; traced "
              f"{wall:.2f}s wall, {cpu:.2f}s task cpu; untraced job {plain.wall_s:.2f}s", flush=True)
    out["job.stages"] = _m(whole.stages, "count")
    out["job.tasks"] = _m(whole.tasks, "count")
    out["job.cpu_s"] = _m(whole.cpu_s, "s")
    vals = dict.fromkeys(STREAM_LAYER, 0.0)
    if stream:
        later = stream.progress[1:]
        dur = lambda k: statistics.median(p.durationMs.get(k, 0) / 1e3 for p in later)  # noqa: E731
        last = stream.progress[-1].stateOperators
        vals = {
            "stream.add_batch_s": dur("addBatch"),
            "stream.planning_s": dur("queryPlanning"),
            "stream.wal_commit_s": dur("walCommit"),
            "stream.state_rows": sum(o.numRowsTotal for o in last),
            "stream.state_mb": sum(o.memoryUsedBytes for o in last) / 2**20,
            "stream.cpu_s_per_epoch": whole.cpu_s / len(stream.progress),
        }
    out.update({k: _m(v, STREAM_LAYER[k]) for k, v in vals.items()})
    return out


if __name__ == "__main__":
    sys.exit(main())
