"""The operations the two workloads time, and the traced per-layer run.

``batch``: ``plans.job.run`` over a transcripts table in the
``write_transcripts`` layout, each run on a fresh warehouse root.
``stream``: ``streaming.stream.stateful_pipeline`` over conversation-range
files, one file per trigger (``maxFilesPerTrigger=1``, ``availableNow``).
An operation is one ``plans.job.run`` or one trigger.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from log_parser_mind_spark.config import PipelineConfig
from log_parser_mind_spark.operators import aggregate as agg
from log_parser_mind_spark.operators import miner
from log_parser_mind_spark.operators.anomaly import detect_all
from log_parser_mind_spark.operators.enrich import enrich_with_lookup, role_tool_lookup
from log_parser_mind_spark.operators.parse import finalize_parsed, masked_transcripts
from log_parser_mind_spark.operators.route import DEFAULT_ROUTES, with_route
from log_parser_mind_spark.plans import job
from log_parser_mind_spark.plans.job import PARSED_SORT
from log_parser_mind_spark.sources.iceberg import snapshot_store
from log_parser_mind_spark.sources.tables import read_transcripts
from log_parser_mind_spark.streaming.stream import (
    pin_stream_file_order,
    stateful_pipeline,
    stream_transcripts,
)

from .probes import job_group

# Reference time for the anomaly sink; inside the generated day.
NOW = "2024-01-01 12:00:00"

AGGREGATES = {
    "aggregate.hourly_rollup": ("hourly_rollup", agg.hourly_rollup),
    "aggregate.error_rates": ("error_rates", agg.error_rates),
    "aggregate.top_templates": ("top_templates", agg.top_templates),
    "aggregate.global_stats": ("global_stats", agg.global_stats),
}
# Traced layers in pipeline order; "session" is traced by the caller.
LAYERS = [
    "tables.scan", "parse.mask", "miner.mine", "miner.templates", "miner.assign",
    "parse.finalize", "enrich_route", "manifest.commit", *AGGREGATES,
    *(f"route.{r.name}" for r in DEFAULT_ROUTES), "anomaly.detect_all",
]


@dataclass
class Op:
    root: str
    start: float  # time.perf_counter() when the operation began
    wall_s: float
    group: str
    error: str | None = None
    spans: dict[str, float] = field(default_factory=dict)


def _attempt(fn, label: str) -> str | None:
    """Run one operation; an exception is the operation's failure, recorded
    with its traceback, never the benchmark's."""
    try:
        fn()
    except Exception:  # noqa: BLE001 - boundary: a failed operation is counted
        tb = traceback.format_exc()
        print(f"[perfbench] {label} failed:\n{tb}", file=sys.stderr, flush=True)
        return tb.strip().splitlines()[-1]
    return None


def job_op(spark, input_path: str, work: str, i: int) -> Op:
    """One untraced ``plans.job.run`` on a fresh warehouse root."""
    root, group = os.path.join(work, f"wh{i}"), f"perfbench.op{i}"

    def run():
        with job_group(spark, group):
            job.run(spark, read_transcripts(spark, input_path), root=root, run_id=f"run_{i}", now=NOW)

    t0 = time.perf_counter()
    err = _attempt(run, f"plans.job.run #{i}")
    return Op(root, t0, time.perf_counter() - t0, group, err)


def traced_job(spark, input_path: str, work: str, i: int) -> Op:
    """The same job as ``plans.job.run``, one public layer function per span.
    Each span runs under its own job group and materializes its output
    (persist + count, or the snapshot commit) before the next span starts,
    so the status store attributes every task to exactly one layer. The
    production job persists none of these and recomputes scan, mask and
    assignment inside its ``parsed_turns`` commit, so the spans describe
    this materialized plan and do not add up to an untraced run; only the
    committed output is checked to be the same."""
    config = PipelineConfig()
    root, tag = os.path.join(work, f"wh{i}"), f"perfbench.op{i}"
    op = Op(root, 0.0, 0.0, tag)
    cached = []
    run_id = f"run_{i}"

    def span(layer, fn):
        t0 = time.perf_counter()
        with job_group(spark, f"{tag}:{layer}"):
            out = fn()
        op.spans[layer] = time.perf_counter() - t0
        return out

    def keep(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    def run():
        store = snapshot_store(spark, root)
        tr = span("tables.scan", lambda: keep(read_transcripts(spark, input_path)))
        masked = span("parse.mask", lambda: keep(masked_transcripts(tr, config.drain.max_depth)))
        assignments = span("miner.mine", lambda: keep(miner.mine_assignments(masked, config)))
        templates = span("miner.templates", lambda: keep(miner.templates_from_assignments(assignments)))
        assigned = span("miner.assign", lambda: keep(miner.assign_templates(masked, assignments, config)))
        parsed = span("parse.finalize", lambda: keep(finalize_parsed(assigned, config)))
        enriched = span(
            "enrich_route", lambda: keep(with_route(enrich_with_lookup(parsed, role_tool_lookup(spark))))
        )

        def commit_parse():
            store.commit(
                enriched.withColumn("month", F.date_format("ts", "yyyy-MM")), "parsed_turns",
                run_id=run_id, sort_within_partitions=PARSED_SORT, partition_by=["month"],
            )
            store.commit(templates, "templates", run_id=run_id)
            return store.read("parsed_turns")

        snap = span("manifest.commit", commit_parse)
        for layer, (sink, build) in AGGREGATES.items():
            span(layer, lambda: store.commit(build(snap), sink, run_id=run_id))
        for r in DEFAULT_ROUTES:
            span(f"route.{r.name}", lambda: store.commit(snap.filter(r.predicate), f"route_{r.name}", run_id=run_id))
        span("anomaly.detect_all", lambda: store.commit(detect_all(snap, NOW, config.anomaly), "alerts", run_id=run_id))

    op.start = time.perf_counter()
    op.error = _attempt(run, f"traced job #{i}")
    op.wall_s = time.perf_counter() - op.start
    for df in cached:
        df.unpersist()
    return op


@dataclass
class StreamResult:
    root: str
    triggers: list[tuple[float, float]]  # (time.perf_counter() at start, seconds)
    progress: list
    job_group: str
    error: str | None


def stream_op(spark, input_dir: str, root: str) -> StreamResult:
    """Run ``stateful_pipeline`` over every file once; per-trigger latency is
    the engine's ``durationMs.triggerExecution``. The query's jobs run in
    the job group Spark names after its run id."""
    pin_stream_file_order(input_dir)
    holder = {}

    def run():
        stream = stream_transcripts(spark, input_dir, max_files=1)
        q = holder["q"] = stateful_pipeline(spark, stream, root).start()
        q.awaitTermination()

    err = _attempt(run, "stateful_pipeline")
    q = holder.get("q")
    progress = [p for p in (q.recentProgress if q else []) if p.numInputRows > 0]
    progress.sort(key=lambda p: p.batchId)
    to_perf = time.perf_counter() - time.time()
    return StreamResult(
        root,
        [
            (dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() + to_perf,
             p.durationMs["triggerExecution"] / 1e3)
            for p in progress
        ],
        progress,
        str(q.runId) if q else "",
        err,
    )
