"""Golden e2e: full Spark pipeline vs the independent pandas oracle on
deterministic synthetic transcripts (SURVEY §5 steps 2-3,5), plus the
north-rule invariants: per-turn text equality under stable (conv_id,
turn_idx) ordering and parallelism invariance.
"""

import pandas as pd
import pytest

from log_parser_mind_spark import oracle
from log_parser_mind_spark.config import PipelineConfig
from log_parser_mind_spark.operators import aggregate as agg
from log_parser_mind_spark.operators.parse import parse_pipeline
from log_parser_mind_spark.synth import synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synth_transcripts(spark, n_convs=120, seed=42, hot_every=40, hot_multiplier=25)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def spark_result(spark, transcripts):
    parsed, templates, _ = parse_pipeline(transcripts, PipelineConfig())
    parsed.cache().count()
    return parsed, templates


@pytest.fixture(scope="module")
def oracle_result(transcripts):
    pdf = transcripts.toPandas()
    return oracle.run_pipeline(pdf), pdf


def _norm_parsed(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    out["variables"] = out["variables"].map(
        lambda m: tuple(sorted(m.items())) if isinstance(m, dict) and m is not None else None
    )
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_parsed_rows_match_oracle(spark_result, oracle_result):
    parsed, _ = spark_result
    got = _norm_parsed(
        parsed.select(
            "conv_id", "turn_idx", "source", "text", "template_id", "template",
            "variables", "is_new", "original_size", "compressed_size",
        ).toPandas()
    )
    want = _norm_parsed(
        oracle_result[0]["parsed"][
            ["conv_id", "turn_idx", "source", "text", "template_id", "template",
             "variables", "is_new", "original_size", "compressed_size"]
        ]
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_templates_match_oracle(spark_result, oracle_result):
    _, templates = spark_result
    got = (
        templates.select("template_id", "pattern", "log_count")
        .toPandas()
        .sort_values("template_id")
        .reset_index(drop=True)
    )
    want = (
        oracle_result[0]["templates"]
        .rename(columns={"template": "pattern"})[["template_id", "pattern", "log_count"]]
        .sort_values("template_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_per_turn_text_equality(transcripts, spark_result):
    """North-rule per-row invariant: input ⟷ parse-stage pass-through text
    equality under (conv_id, turn_idx); anti-join must be empty both ways."""
    parsed, _ = spark_result
    left = transcripts.select("conv_id", "turn_idx", "text")
    right = parsed.select("conv_id", "turn_idx", "text")
    assert left.exceptAll(right).count() == 0
    assert right.exceptAll(left).count() == 0


def test_hourly_rollup_matches_oracle(spark_result, oracle_result):
    parsed, _ = spark_result
    got = (
        agg.hourly_rollup(parsed)
        .toPandas()
        .sort_values(["source", "template_id", "hour"])
        .reset_index(drop=True)
    )
    want = (
        oracle.hourly_rollup(oracle_result[0]["parsed"].dropna(subset=["template_id"]))
        .sort_values(["source", "template_id", "hour"])
        .reset_index(drop=True)
    )
    got_ne = got.dropna(subset=["template_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_ne, want, check_dtype=False)


def test_error_rates_match_oracle(spark_result, oracle_result):
    parsed, _ = spark_result
    got = (
        agg.error_rates(parsed).toPandas().sort_values(["source", "minute"]).reset_index(drop=True)
    )
    want = (
        oracle.error_rates(oracle_result[0]["parsed"])
        .sort_values(["source", "minute"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_global_stats_match_oracle(spark_result, oracle_result):
    parsed, _ = spark_result
    row = agg.global_stats(parsed).collect()[0]
    p = oracle_result[0]["parsed"]
    assert row.total_logs == len(p)
    assert row.unique_templates == p["template_id"].nunique()
    assert row.total_original_size == p["original_size"].sum()
    assert row.total_compressed_size == p["compressed_size"].dropna().sum()


def test_parallelism_invariance(spark, transcripts):
    """SURVEY §5.5: same input at parallelism 1 vs 8 → identical sinks.
    (Same session; parallelism varied via repartition + shuffle.partitions.)"""
    from pyspark.sql import functions as F

    def run(n):
        src = transcripts.repartition(n)
        parsed, templates, _ = parse_pipeline(src, PipelineConfig())
        parsed = parsed.cache()
        p = sorted(
            (r.conv_id, r.turn_idx, r.template_id, r.is_new, r.compressed_size)
            for r in parsed.select("conv_id", "turn_idx", "template_id", "is_new", "compressed_size").collect()
        )
        t = sorted((r.template_id, r.pattern, r.log_count) for r in templates.collect())
        # Float aggregates (alert means, σ, z) may differ in the last ulp
        # with the order partial results merge in.
        sinks = {
            name: sorted(
                tuple(round(v, 9) if isinstance(v, float) else v for v in r)
                for r in df.drop("variables").collect()
            )
            for name, df in _downstream_sinks(spark, parsed).items()
        }
        parsed.unpersist()
        return p, t, sinks

    assert run(1) == run(16)


NOW = "2024-01-01 12:00:00"  # inside the generated day, so alerts fire

# Column names and types every downstream sink commits; the sinks built over
# aggregate.minute_rollup keep those of the row-level aggregates.
ROUTE_DTYPES = [
    ("source", "string"), ("tool", "string"), ("conv_id", "string"), ("turn_idx", "int"),
    ("log_id", "string"), ("ts", "timestamp"), ("text", "string"), ("template_id", "string"),
    ("template", "string"), ("variables", "map<string,string>"), ("is_new", "boolean"),
    ("original_size", "int"), ("compressed_size", "int"), ("sink_hint", "string"),
    ("cost_weight", "double"), ("severity_class", "string"),
]
SINK_DTYPES = {
    "route_errors": ROUTE_DTYPES,
    "route_warnings": ROUTE_DTYPES,
    "route_info": ROUTE_DTYPES,
    "hourly_rollup": [("source", "string"), ("template_id", "string"), ("hour", "timestamp"),
                      ("log_count", "bigint"), ("total_original_size", "bigint"),
                      ("total_compressed_size", "bigint")],
    "error_rates": [("source", "string"), ("minute", "timestamp"), ("error_count", "bigint"),
                    ("warn_count", "bigint"), ("total_count", "bigint")],
    "top_templates": [("template_id", "string"), ("cnt", "bigint")],
    "global_stats": [("total_logs", "bigint"), ("unique_templates", "bigint"),
                     ("total_original_size", "bigint"), ("total_compressed_size", "bigint"),
                     ("compression_ratio", "double")],
    "alerts": [("alert_id", "string"), ("type", "string"), ("severity", "string"), ("key", "string"),
               ("value", "double"), ("threshold", "double"), ("zscore", "double"),
               ("detected_at", "timestamp")],
}


def _downstream_sinks(spark, parsed):
    """plans.job's aggregate, route and alert sinks over parsed rows."""
    from log_parser_mind_spark.operators.enrich import enrich_with_lookup, role_tool_lookup
    from log_parser_mind_spark.operators.route import with_route
    from log_parser_mind_spark.plans import job

    enriched = with_route(enrich_with_lookup(parsed, role_tool_lookup(spark)))
    return job._downstream_sinks(enriched, agg.minute_rollup(enriched), PipelineConfig(), NOW)


def _edge_empty_parsed(spark, parsed):
    row = agg.global_stats(parsed.limit(0)).collect()[0]
    assert (row.total_logs, row.unique_templates) == (0, 0)
    assert agg.error_rates(parsed.limit(0)).count() == 0


def _edge_minute_without_errors(spark, parsed):
    from pyspark.sql import functions as F

    from log_parser_mind_spark.operators.route import severity_class_expr

    info = parsed.filter(severity_class_expr(F.col("template")) == "info")
    rows = agg.error_rates(info).collect()
    assert rows and all(r.error_count == 0 and r.warn_count == 0 for r in rows)
    assert sum(r.total_count for r in rows) == info.count()


def _edge_null_templates(spark, parsed):
    from pyspark.sql import functions as F

    kept = F.col("turn_idx") % 3 != 0  # a third of the rows lose their template
    nulled = parsed.withColumn("template_id", F.when(kept, F.col("template_id"))).withColumn(
        "template", F.when(kept, F.col("template"))
    )
    pdf = nulled.select("template_id", "original_size", "compressed_size").toPandas()
    counts = [
        (None if pd.isna(k) else k, n)
        for k, n in pdf.groupby("template_id", dropna=False).size().items()
    ]
    # Spark's asc(template_id) puts the NULL group first among equal counts.
    want_top = sorted(counts, key=lambda kn: (-kn[1], kn[0] is not None, kn[0] or ""))[:10]
    got_top = [(r.template_id, r.cnt) for r in agg.top_templates(nulled).collect()]
    assert got_top == want_top
    assert got_top[0][0] is None
    row = agg.global_stats(nulled).collect()[0]
    assert row.total_logs == len(pdf)
    assert row.unique_templates == pdf["template_id"].nunique()
    assert row.total_original_size == pdf["original_size"].sum()
    assert row.total_compressed_size == pdf["compressed_size"].dropna().sum()


def _edge_sink_schemas(spark, parsed):
    sinks = _downstream_sinks(spark, parsed)
    assert {name: df.dtypes for name, df in sinks.items()} == SINK_DTYPES


EDGE_CASES = {
    "empty_parsed": _edge_empty_parsed,
    "minute_without_errors": _edge_minute_without_errors,
    "null_templates": _edge_null_templates,
    "sink_schemas": _edge_sink_schemas,
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_rollup_sink_edge_cases(spark, spark_result, case):
    """The sinks rebuilt over aggregate.minute_rollup keep the row-level
    answers at the edges: an empty table counts 0 logs, a minute without
    ERROR/WARN rows counts 0 of each (not NULL), NULL-template rows are
    counted as one group, and no sink changes a column name or type."""
    EDGE_CASES[case](spark, spark_result[0])
