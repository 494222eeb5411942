"""Z-score anomaly detection as batch DataFrame stages (SURVEY §2.4 A8-A9,
§2.8 F10-F11; reference cmd/anomaly/main.go:113-264).

The reference keeps per-key time series in memory and, on every record,
compares a trailing-5-minute value against a mean/σ baseline frozen at first
computation (cmd/anomaly/main.go:129-133 — never refreshed, and contaminated
by the current window). The batch rebuild recomputes baselines per run over
the whole series (documented divergence, strictly more correct), evaluates
the trailing window against a deterministic ``now`` (event time, not
arrival time), and emits routed alert rows.

  error  path: per-template ERROR counts per minute → z = (recent_sum − μ)/σ,
               alert if z > error_threshold     (main.go:113-162)
  volume path: per-source counts per minute → z = |recent_mean − μ|/σ,
               alert if z > volume_threshold; spike vs drop by sign
               (main.go:164-222)

Both series are re-aggregations of ``aggregate.minute_rollup``, so the
detectors share the one pass over the rows every aggregate sink uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import AnomalyConfig
from .aggregate import baselines, minute_rollup, recent_window
from .route import severity_class_expr


def severity_expr(z) -> F.Column:
    """getSeverity (cmd/anomaly/main.go:255-264)."""
    return (
        F.when(z > 5, F.lit("critical"))
        .when(z > 4, F.lit("high"))
        .when(z > 3, F.lit("medium"))
        .otherwise(F.lit("low"))
    )


def error_series(rollup: DataFrame) -> DataFrame:
    """Per-(template_id, minute) ERROR-row counts — the RecordError feed
    (cmd/anomaly/main.go:82-97), pre-bucketed to minutes for scale, from
    ``aggregate.minute_rollup``."""
    return (
        rollup.filter(severity_class_expr(F.col("template")) == "error")
        .groupBy(F.col("template_id").alias("key"), F.col("minute").alias("ts"))
        .agg(F.sum("log_count").cast("double").alias("value"))
    )


def volume_series(rollup: DataFrame) -> DataFrame:
    """Per-(source, minute) row counts — the RecordVolume feed (main.go:100-111),
    from ``aggregate.minute_rollup``."""
    return rollup.groupBy(F.col("source").alias("key"), F.col("minute").alias("ts")).agg(
        F.sum("log_count").cast("double").alias("value")
    )


def _detect(
    series: DataFrame,
    now: str,
    threshold: float,
    recent_agg: str,
    alert_type_expr,
    config: AnomalyConfig,
) -> DataFrame:
    base = baselines(series).filter(F.col("n_points") >= config.min_points)
    recent = recent_window(
        series, now, window_minutes=config.window_minutes, agg=recent_agg
    )
    if recent_agg == "sum":
        # Error path: a key with zero recent errors has z=(0−μ)/σ < 0, never
        # above the threshold, so the inner join is equivalent and cheaper.
        joined = recent.join(F.broadcast(base), on="key", how="inner")
        z = (F.col("recent") - F.col("mean")) / F.col("stddev")
        thr = F.col("mean") + F.col("stddev") * F.lit(threshold)
    else:
        # Volume path: TOTAL SILENCE is the canonical drop case — the
        # reference computes recentVolume=0 for a key with no recent events
        # (cmd/anomaly/main.go:164-222). recent_window produces no row for
        # such a key, so baselines must be the driving side of a left join
        # with recent coalesced to 0.
        joined = base.join(F.broadcast(recent), on="key", how="left").withColumn(
            "recent", F.coalesce(F.col("recent"), F.lit(0.0))
        )
        z = F.abs(F.col("recent") - F.col("mean")) / F.col("stddev")
        thr = F.col("mean")
    return (
        joined.withColumn("zscore", z)
        .filter(F.col("zscore") > threshold)
        .select(
            F.concat(F.lit("alert_"), F.lower(F.hex(F.xxhash64("key", F.lit(now))))).alias("alert_id"),
            alert_type_expr.alias("type"),
            severity_expr(F.col("zscore")).alias("severity"),
            "key",
            F.col("recent").cast("double").alias("value"),
            thr.cast("double").alias("threshold"),
            F.col("zscore").cast("double").alias("zscore"),
            F.lit(now).cast("timestamp").alias("detected_at"),
        )
    )


def _error_alerts(rollup: DataFrame, now: str, config: AnomalyConfig) -> DataFrame:
    return _detect(
        error_series(rollup), now, config.error_threshold, "sum", F.lit("error_spike"), config
    )


def _volume_alerts(rollup: DataFrame, now: str, config: AnomalyConfig) -> DataFrame:
    alert_type = F.when(F.col("recent") < F.col("mean"), F.lit("volume_drop")).otherwise(
        F.lit("volume_spike")
    )
    return _detect(
        volume_series(rollup), now, config.volume_threshold, "avg", alert_type, config
    )


def detect_volume_anomalies(parsed: DataFrame, now: str, config: AnomalyConfig | None = None) -> DataFrame:
    """checkVolumeAnomaly (main.go:164-222): |z|, spike vs drop by direction."""
    return _volume_alerts(minute_rollup(parsed), now, config or AnomalyConfig())


def detect_all(parsed: DataFrame, now: str, config: AnomalyConfig | None = None) -> DataFrame:
    """Both detectors → one routed alerts sink (alert channel T8 → table)."""
    return detect_all_from_rollup(minute_rollup(parsed), now, config)


def detect_all_from_rollup(
    rollup: DataFrame, now: str, config: AnomalyConfig | None = None
) -> DataFrame:
    """``detect_all`` over ``aggregate.minute_rollup`` of the parsed rows."""
    config = config or AnomalyConfig()
    return _error_alerts(rollup, now, config).unionByName(_volume_alerts(rollup, now, config))
