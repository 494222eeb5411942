"""Event-log CPU evidence for the executor-scaling ladders (VERDICT r3
item 7).

The committed ladder numbers (1-core 0.844, 2-core 0.663 vs same-shape host
ceiling 0.652) argue that the sub-1.0 efficiency is the HOST's shared memory
bus, not the plan — an argument that so far rested on wall-clock plus a
separate pure-compute calibration. This bench backs it with Spark event-log
task metrics from the ladder runs themselves:

  - Σ executor CPU time for IDENTICAL work at N vs 4N. CPU inflation at 4N
    (same bytes, same tasks, more concurrent cores) is the memory-bandwidth
    signature; scheduling/idle gaps would instead show Σ task runtime far
    below wall × cores with FLAT CPU.
  - per-stage CPU/runtime/GC/shuffle table for the heaviest stages, showing
    WHERE the inflation lands (the scan+mask+agg stages that stream the
    input, not the tiny shuffles).

Runs each ladder size once with spark.eventLog enabled (uncompressed JSON),
parses TaskEnd metrics, and appends the tables to BENCH/BASELINE.md. CPU
totals are far less run-to-run noisy than wall on this VM — the min-take
wall numbers stay the committed headline; this adds the breakdown.

Usage: python bench/eventlog_cpu.py [n_convs] [cores] [mem_mb]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))

from scaling import build_zip, prepare_input, run_at  # noqa: E402


def _zero() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "cpu_ms": 0, "gc_ms": 0, "deser_ms": 0,
        "result_ser_ms": 0, "fetch_wait_ms": 0, "shuffle_write_ms": 0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0,
        "output_mb": 0.0, "wall_ms": 0,
    }


def sum_stages(stages) -> dict:
    """Column totals of per-stage metric dicts."""
    totals = _zero()
    for s in stages:
        for k in totals:
            totals[k] += s[k]
    return totals


def parse_eventlogs(evdir: str) -> dict:
    """Aggregate TaskEnd metrics per stage across every app log in evdir.

    Each stage also carries its name, its wall time (submission to
    completion) and ``description``: the ``spark.job.description`` of the
    job that ran it, or None."""
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    walls: dict[int, int] = {}
    job_desc: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    paths = []
    for dirpath, _dirs, files in os.walk(evdir):
        for fn in files:
            # v1: one file per app; v2 (Spark 4): eventlog_v2_<app>/events_N_*
            if (fn.startswith("events_") or fn.startswith("app-")
                    or fn.startswith("local-") or fn.endswith(".inprogress")):
                paths.append(os.path.join(dirpath, fn))
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    job_desc[e["Job ID"]] = (e.get("Properties") or {}).get("spark.job.description")
                    # A job also lists the stages it skips; those ran in the
                    # first job that listed them.
                    for si in e.get("Stage Infos", []):
                        stage_job.setdefault(si["Stage ID"], e["Job ID"])
                elif ev == "SparkListenerStageCompleted":
                    info = e.get("Stage Info", {})
                    names[info.get("Stage ID")] = info.get("Stage Name", "?")
                    walls[info.get("Stage ID")] = (info.get("Completion Time") or 0) - (
                        info.get("Submission Time") or 0
                    )
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    s = stages.setdefault(e.get("Stage ID"), _zero())
                    s["tasks"] += 1
                    s["run_ms"] += tm.get("Executor Run Time", 0)
                    s["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                    s["gc_ms"] += tm.get("JVM GC Time", 0)
                    s["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                    s["result_ser_ms"] += tm.get("Result Serialization Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_mb"] += (
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    ) / 1e6
                    s["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    s["shuffle_write_ms"] += sw.get("Shuffle Write Time", 0) // 1_000_000
                    im = tm.get("Input Metrics") or {}
                    s["input_mb"] += im.get("Bytes Read", 0) / 1e6
                    om = tm.get("Output Metrics") or {}
                    s["output_mb"] += om.get("Bytes Written", 0) / 1e6
    for sid, s in stages.items():
        s["name"] = (names.get(sid) or "?").split("\n")[0][:80]
        s["wall_ms"] = walls.get(sid, 0)
        s["description"] = job_desc.get(stage_job.get(sid))
    return {"stages": stages, "totals": sum_stages(stages.values())}


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    mem_mb = int(sys.argv[3]) if len(sys.argv) > 3 else 4096
    zip_path = os.path.join(REPO, "data", "logmind.zip")
    build_zip(zip_path)
    input_path, n_turns = prepare_input(n_convs)
    print(f"input: {input_path} ({n_turns} turns)", flush=True)

    results = {}
    for label, n_exec in (("N", 1), ("4N", 4)):
        evdir = tempfile.mkdtemp(prefix=f"evlog_{label}_")
        master = f"local-cluster[{n_exec},{cores},{mem_mb}]"
        r = run_at(master, zip_path, input_path, 256, codec="snappy", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{evdir}",
            "spark.eventLog.compress": "false",
        })
        m = parse_eventlogs(evdir)
        # A layout change that parses zero events must fail loudly here, not
        # append a nonsense 0×-inflation table to BASELINE.md.
        assert m["totals"]["tasks"] > 0, f"no TaskEnd events parsed under {evdir}"
        results[label] = {"master": master, "wall": r["elapsed_sec"],
                          "checksum": r["checksum"], **m}
        t = m["totals"]
        print(f"{label} {master}: wall {r['elapsed_sec']}s, tasks {t['tasks']}, "
              f"Σrun {t['run_ms']/1e3:.0f}s, Σcpu {t['cpu_ms']/1e3:.0f}s, "
              f"Σgc {t['gc_ms']/1e3:.0f}s", flush=True)

    n, n4 = results["N"], results["4N"]
    assert n["checksum"] == n4["checksum"], "outputs diverged"
    cpu_inflation = n4["totals"]["cpu_ms"] / max(n["totals"]["cpu_ms"], 1)
    total_cores_n, total_cores_n4 = cores, 4 * cores
    util_n = n["totals"]["run_ms"] / 1e3 / (n["wall"] * total_cores_n)
    util_n4 = n4["totals"]["run_ms"] / 1e3 / (n4["wall"] * total_cores_n4)

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    lines = [
        "",
        f"## Event-log CPU breakdown for the {cores}-core executor ladder ({stamp})",
        "",
        f"Generated by `python bench/eventlog_cpu.py {n_convs} {cores} {mem_mb}`:",
        f"the SAME ladder job ({n_turns:,} turns, 256 splits, snappy) run once per",
        "size with `spark.eventLog.enabled`, TaskEnd metrics aggregated. Wall",
        "numbers here are single-shot (the committed min-take ladder remains the",
        "headline); CPU totals are the low-noise evidence.",
        "",
        "| size | master | wall (s) | Σ task runtime (s) | Σ CPU (s) | Σ GC (s) | core-occupancy |",
        "|---|---|---|---|---|---|---|",
    ]
    for label, rr in results.items():
        t = rr["totals"]
        util = util_n if label == "N" else util_n4
        lines.append(
            f"| {label} | {rr['master']} | {rr['wall']:.1f} | {t['run_ms']/1e3:.1f} "
            f"| {t['cpu_ms']/1e3:.1f} | {t['gc_ms']/1e3:.1f} | {util:.2f} |"
        )
    lines += [
        "",
        f"**Σ executor CPU inflates {cpu_inflation:.2f}× from N to 4N for identical",
        "work and identical output checksums**, while task concurrency keeps the",
        f"cores occupied ({util_n:.2f} → {util_n4:.2f} run-time/core-seconds). Idle",
        "executors would show flat CPU and falling occupancy; what we measure is",
        "per-core slowdown under concurrency — the shared-memory-bus signature the",
        "pure-compute calibration predicted. Heaviest stages by CPU at 4N:",
        "",
        "| stage | tasks | Σ CPU (s) | Σ runtime (s) | Σ GC (s) | input (MB) | shuffle w (MB) |",
        "|---|---|---|---|---|---|---|",
    ]
    top = sorted(n4["stages"].items(), key=lambda kv: -kv[1]["cpu_ms"])[:6]
    for sid, s in top:
        lines.append(
            f"| {sid}: {s['name']} | {s['tasks']} | {s['cpu_ms']/1e3:.1f} "
            f"| {s['run_ms']/1e3:.1f} | {s['gc_ms']/1e3:.1f} "
            f"| {s['input_mb']:.0f} | {s['shuffle_write_mb']:.0f} |"
        )
    n_top = sorted(n["stages"].items(), key=lambda kv: -kv[1]["cpu_ms"])[:6]
    lines += [
        "",
        "Same stages at N (for the inflation per stage):",
        "",
        "| stage | tasks | Σ CPU (s) | Σ runtime (s) | Σ GC (s) |",
        "|---|---|---|---|---|",
    ]
    for sid, s in n_top:
        lines.append(
            f"| {sid}: {s['name']} | {s['tasks']} | {s['cpu_ms']/1e3:.1f} "
            f"| {s['run_ms']/1e3:.1f} | {s['gc_ms']/1e3:.1f} |"
        )
    out = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as fh:
        fh.write(out)
    print(out, flush=True)


if __name__ == "__main__":
    main()
