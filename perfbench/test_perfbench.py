"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import os
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, probes  # noqa: E402
from perfbench.run import tail  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from log_parser_mind_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_status_store_attributes_two_stage_job_to_its_group(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # fixed stage/task shape
    try:
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count().collect()
        with probes.job_group(spark, "known"):
            rows = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        spark.range(10).count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(rows) == 7
    known = probes.stage_totals(spark)["known"]
    assert known.stages == 2  # scan + partial aggregate, then the final aggregate
    assert known.tasks == 4 + 2  # 4 scan splits, 2 shuffle partitions
    assert known.shuffle_bytes > 0 and known.cpu_s > 0
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """A small input in the benchmark's cache layout: ``transcripts/``."""
    from log_parser_mind_spark.sources.tables import write_transcripts
    from log_parser_mind_spark.synth import synth_transcripts

    cache = tmp_path_factory.mktemp("corpus")
    write_transcripts(synth_transcripts(spark, n_convs=40, seed=5), str(cache / "transcripts"))
    return str(cache)


def test_corrupted_sink_counts_as_failed(spark, corpus, tmp_path):
    from log_parser_mind_spark.plans import job
    from log_parser_mind_spark.sources.tables import read_transcripts

    root = str(tmp_path / "wh")
    expected = checks.batch_expectations(checks.transcripts_frame(inputs.rows(corpus).to_pandas()))
    job.run(spark, read_transcripts(spark, os.path.join(corpus, "transcripts")), root=root, now="2024-01-01 12:00:00")
    assert checks.check_batch(root, expected) == []

    snap = checks.latest_snapshot_dir(root, "templates")
    part = next(f for f in sorted(os.listdir(snap)) if f.endswith(".parquet") and pq.read_metadata(os.path.join(snap, f)).num_rows)
    table = pq.read_table(os.path.join(snap, part))
    counts = table.column("log_count").to_pylist()
    counts[0] += 1
    pq.write_table(table.set_column(table.schema.get_field_index("log_count"), "log_count",
                                    [counts]), os.path.join(snap, part))
    problems = checks.check_batch(root, expected)
    assert problems == ["templates digest differs from the oracle"]


def test_stream_files_are_pii_free_conversation_ranges(corpus, tmp_path):
    files = inputs.stream_files(corpus, str(tmp_path / "in"), 3)
    everything = inputs.rows(corpus)
    assert sum(map(len, files)) == everything.num_rows
    last = [max(c for c, _ in f) for f in files]
    assert all(last[i] < min(c for c, _ in files[i + 1]) for i in range(2))
    texts = inputs.stream_rows(corpus).column("text").to_pylist()
    assert any(" contact " in t for t in everything.column("text").to_pylist())
    assert not any(" contact " in t for t in texts)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")
    value, label = tail([float(i) for i in range(1, 21)])
    assert value == 10.0 and label == "p50 of 20"
