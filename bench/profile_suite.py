"""Per-query stage-level profiling of the bench.py suite (r6, guide §1).

Runs the SAME query bodies as bench.py (imported helpers, same configs) with
Spark event logging on and a job description per query, then attributes every
stage's task metrics (wall, CPU, GC, shuffle read/write, input bytes, task
count) back to its query. This is the measurement harness behind
OPTIMIZATION_r06.md — bench.py itself stays frozen.

Usage: python bench/profile_suite.py [query ...]   (default: all)
Writes /tmp/profile_suite_report.json and prints a per-query table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The repo root first: ``bench`` then resolves to bench.py, not this directory.
sys.path[:0] = [REPO, os.path.join(REPO, "bench")]

from pyspark.sql import functions as F  # noqa: E402

from bench import _noop, run_pipeline  # noqa: E402
from eventlog_cpu import parse_eventlogs, sum_stages  # noqa: E402
from log_parser_mind_spark.operators import dedup  # noqa: E402
from log_parser_mind_spark.session import get_spark  # noqa: E402
from log_parser_mind_spark.sources.tables import documents_as_transcripts, read_table  # noqa: E402
from log_parser_mind_spark.synth import synth_transcripts  # noqa: E402


def main() -> None:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    evdir = tempfile.mkdtemp(prefix="logmind_evlog_")
    spark = get_spark(
        app_name="profile_suite",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        },
    )
    sc = spark.sparkContext

    transcripts = synth_transcripts(spark, n_convs=50_000, seed=42).repartition(cpus * 4)
    transcripts = transcripts.persist()
    transcripts.count()

    timings: dict[str, float] = {}

    def timed(name, fn):
        if only and name not in only:
            return
        sc.setJobDescription(f"Q:{name}")
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        print(f"[prof] {name}: {timings[name]}s", file=sys.stderr, flush=True)

    timed("pipeline_synth", lambda: run_pipeline(spark, transcripts))
    docs_t = documents_as_transcripts(spark, sf_dir)
    timed("pipeline_docs", lambda: run_pipeline(spark, docs_t))
    docs = read_table(spark, sf_dir, "documents")
    timed("dedup_minhash", lambda: _noop(dedup.minhash_lsh_candidates(docs, k=32, bands=16)))
    timed("dedup_simhash", lambda: _noop(dedup.simhash_near_dups(docs).drop("ids")))

    from log_parser_mind_spark.operators.curate import dedup_paragraphs, repetition_scores

    timed("repetition_scores", lambda: _noop(repetition_scores(docs)))
    timed("paragraph_dedup", lambda: _noop(dedup_paragraphs(docs).select("doc_id", "text")))

    from log_parser_mind_spark.operators.curate import dedup_ngram_spans, ngram_lm_scores

    timed("ngram_span_dedup", lambda: _noop(dedup_ngram_spans(docs, k=8).select("doc_id", "text")))
    timed(
        "lm_quality",
        lambda: _noop(ngram_lm_scores(docs).select("doc_id", "n_bigrams", "avg_nll", "ppl")),
    )

    from log_parser_mind_spark.operators.prep import tfidf_keywords

    def _tfidf():
        out = tfidf_keywords(docs, k=5)
        _noop(out)
        out.doc_terms.unpersist()

    timed("tfidf_keywords", _tfidf)

    from log_parser_mind_spark.operators.curate import exact_contamination

    bench_docs = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text"
    )
    timed("exact_contamination", lambda: _noop(exact_contamination(docs, bench_docs, n=8)))

    ev = read_table(spark, sf_dir, "events")

    from __spark_entry__ import _turns_from_events
    from log_parser_mind_spark.operators.prep import sft_examples

    sft_turns = _turns_from_events(ev)
    timed("sft_examples", lambda: _noop(sft_examples(sft_turns, context_budget_tokens=8)))

    from log_parser_mind_spark.operators.prep import preference_pairs

    timed("preference_pairs", lambda: _noop(preference_pairs(sft_turns)))

    inc_base = docs.filter(F.col("doc_id") % 5 != 0)
    inc_new = docs.filter(F.col("doc_id") % 5 == 0)
    idx_dir = tempfile.mkdtemp(prefix="logmind_idx_")
    try:
        need_idx = not only or "incremental_dedup" in only

        def _build():
            dedup.build_minhash_index(inc_base, k=32, bands=16).write.mode(
                "overwrite"
            ).parquet(f"{idx_dir}/idx")

        if not only or "minhash_index_build" in only:
            timed("minhash_index_build", _build)
        elif need_idx:
            _build()  # untimed prerequisite for the filtered run
        if need_idx:
            stored_idx = spark.read.parquet(f"{idx_dir}/idx")
            timed(
                "incremental_dedup",
                lambda: _noop(
                    dedup.dedup_against_index(inc_new, stored_idx, inc_base, k=32, bands=16)
                ),
            )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    from log_parser_mind_spark.functions import text as _tx
    from log_parser_mind_spark.operators.sample import select_within_token_budget

    def _budget_select():
        scored = _tx.with_tokens(docs).select(
            "doc_id",
            _tx.quality_score_from(F.col("tokens"), F.col("text")).alias("quality"),
            F.size("tokens").cast("long").alias("n_tokens"),
        )
        _noop(select_within_token_budget(scored, budget_tokens=120_000))

    timed("budget_select", _budget_select)

    timed(
        "error_rates_events",
        lambda: _noop(
            ev.groupBy(F.date_trunc("minute", "ts").alias("minute")).agg(
                F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
                F.count(F.lit(1)).alias("total_count"),
            )
        ),
    )
    li = read_table(spark, sf_dir, "lineitem")
    timed(
        "pricing_summary",
        lambda: _noop(
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.sum("l_extendedprice"), F.count(F.lit(1)))
        ),
    )
    emb = read_table(spark, sf_dir, "embeddings")
    from log_parser_mind_spark.operators.similarity import brute_force_topk

    timed(
        "cosine_topk",
        lambda: _noop(
            brute_force_topk(emb.filter(F.col("vec_id") < 8), emb.filter(F.col("vec_id") >= 8), k=5)
        ),
    )

    spark.stop()

    # ---- event-log attribution: job description -> stages -> task metrics
    report: dict[str, dict] = {}
    for sid, st in sorted(parse_eventlogs(evdir)["stages"].items()):
        desc = st["description"] or ""
        q = desc[2:] if desc.startswith("Q:") else "_untracked"
        r = report.setdefault(q, {"stages": [], "wall_s": timings.get(q)})
        r["stages"].append({"stage_id": sid, **st})
    for r in report.values():
        r["totals"] = sum_stages(r["stages"])

    out_path = "/tmp/profile_suite_report.json"
    with open(out_path, "w") as fh:
        json.dump({"timings": timings, "report": report}, fh, indent=1)

    hdr = f"{'query':<22}{'wall_s':>8}{'Σrun_s':>9}{'Σcpu_s':>9}{'gc_s':>6}{'shR_MB':>8}{'shW_MB':>8}{'in_MB':>8}{'tasks':>7}{'stages':>7}"
    print(hdr)
    for q, t in timings.items():
        r = report.get(q)
        if not r:
            print(f"{q:<22}{t:>8.2f}  (no stages tracked)")
            continue
        tt = r["totals"]
        print(
            f"{q:<22}{t:>8.2f}{tt['run_ms']/1e3:>9.1f}{tt['cpu_ms']/1e3:>9.1f}"
            f"{tt['gc_ms']/1e3:>6.1f}{tt['shuffle_read_mb']:>8.1f}{tt['shuffle_write_mb']:>8.1f}"
            f"{tt['input_mb']:>8.1f}{tt['tasks']:>7}{len(r['stages']):>7}"
        )
    print(f"\nfull report: {out_path}  (eventlog dir kept: {evdir})")


if __name__ == "__main__":
    main()
