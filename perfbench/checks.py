"""Correctness gate: the engine's committed sinks against the pandas oracle.

Expected digests come from ``log_parser_mind_spark.oracle`` on the same
generated rows, computed once per input block and cached with it
(``inputs.prepare``).
Committed sinks are read back with pyarrow in the benchmark process, so a check
launches no Spark job and warms nothing the next timed operation could use.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from log_parser_mind_spark import oracle
from log_parser_mind_spark.config import DrainConfig
from log_parser_mind_spark.operators.drain_core import preprocess_tokens, tokenize

PARSED_COLS = [
    "conv_id", "turn_idx", "source", "template_id", "template", "variables",
    "is_new", "original_size", "compressed_size", "severity_class",
]
STREAM_COLS = ["conv_id", "turn_idx", "template_id", "template", "is_new", "original_size", "compressed_size"]
HOURLY_COLS = ["source", "template_id", "hour", "log_count", "total_original_size", "total_compressed_size"]
ERROR_COLS = ["source", "minute", "error_count", "warn_count", "total_count"]
GLOBAL_COLS = ["total_logs", "unique_templates", "total_original_size", "total_compressed_size"]
ROUTES = {"route_errors": "error", "route_warnings": "warn", "route_info": "info"}


def _canon(v):
    """One canonical Python value for pandas/numpy, pyarrow and dict/map
    spellings of the same cell."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, float) and v.is_integer():
        return int(v)  # an integer column that pandas widened around a NULL
    if isinstance(v, dict):
        v = list(v.items())
    if isinstance(v, list):
        return tuple(sorted(tuple(_canon(x) for x in kv) for kv in v))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def digest(records) -> str:
    """Order-independent digest of an iterable of row tuples."""
    lines = sorted(repr(tuple(_canon(x) for x in r)) for r in records)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _rows(pdf: pd.DataFrame, cols: list[str]):
    return pdf[cols].itertuples(index=False, name=None)


def transcripts_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """The oracle's input: the transcript columns with naive UTC timestamps."""
    pdf = pdf[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].copy()
    pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True).dt.tz_localize(None)
    return pdf


def properties(pdf: pd.DataFrame, templates: int, config: DrainConfig) -> dict[str, float]:
    """Workload-property counters of the input: distinct masked signatures
    per turn, Drain tree leaves (n_tokens, k0, k1) over distinct signatures,
    the largest leaf, and leaves over the giant-leaf cap."""
    sigs = {
        " ".join(m)
        for m in (preprocess_tokens(tokenize(t)) for t in pdf["text"] if isinstance(t, str))
        if m
    }
    leaves: dict[tuple, int] = {}
    for s in sigs:
        toks = s.split(" ")
        key = (len(toks),) + tuple(
            toks[i] if len(toks) > i + 1 else None for i in range(config.max_depth - 2)
        )
        leaves[key] = leaves.get(key, 0) + 1
    cap = config.giant_leaf_threshold
    return {
        "miner.sigs_per_turn": len(sigs) / len(pdf),
        "miner.templates": templates,
        "miner.leaves": len(leaves),
        "miner.max_leaf_sigs": max(leaves.values()),
        "miner.giant_leaves": sum(1 for n in leaves.values() if cap is not None and n > cap),
    }


def batch_expectations(pdf: pd.DataFrame) -> dict:
    """Digests and counts every committed batch sink must reproduce."""
    out = oracle.run_pipeline(pdf)
    parsed = out["parsed"].assign(severity_class=out["parsed"]["template"].map(oracle.severity_class))
    templates = out["templates"].rename(columns={"template": "pattern"})
    top = templates.sort_values(["log_count", "template_id"], ascending=[False, True]).head(10)
    return {
        "digests": {
            "parsed_turns": digest(_rows(parsed, PARSED_COLS)),
            "templates": digest(_rows(templates, ["template_id", "pattern", "log_count"])),
            "hourly_rollup": digest(_rows(oracle.hourly_rollup(parsed), HOURLY_COLS)),
            "error_rates": digest(_rows(oracle.error_rates(parsed), ERROR_COLS)),
            "top_templates": digest(_rows(top, ["template_id", "log_count"])),
            "global_stats": digest([(
                len(parsed), parsed["template_id"].nunique(),
                parsed["original_size"].sum(), parsed["compressed_size"].dropna().sum(),
            )]),
        },
        "routes": {sink: int((parsed["severity_class"] == sev).sum()) for sink, sev in ROUTES.items()},
        "properties": properties(pdf, len(templates), DrainConfig()),
    }


def stream_expectations(pdf: pd.DataFrame) -> dict:
    """Per-turn rows and the template dimension the stream must converge to
    under the convergence contract (docs/streaming.md)."""
    out = oracle.run_pipeline(pdf)
    parsed = out["parsed"]
    templates = out["templates"].rename(columns={"template": "pattern"})
    return {
        "turns": {
            json.dumps([c, int(t)]): [_canon(x) for x in rest]
            for c, t, *rest in _rows(parsed, STREAM_COLS)
        },
        "templates": digest(_rows(templates, ["template_id", "pattern", "log_count"])),
        "properties": properties(pdf, len(templates), DrainConfig()),
    }


def latest_snapshot_dir(root: str, sink: str) -> str:
    d = os.path.join(root, sink)
    snaps = [
        int(n.split("=")[1])
        for n in os.listdir(d)
        if n.startswith("snapshot=") and os.path.exists(os.path.join(d, n, "_COMMITTED"))
    ]
    if not snaps:
        raise FileNotFoundError(f"no committed snapshot of {sink} under {root}")
    return os.path.join(d, f"snapshot={max(snaps)}")


def read_sink(path: str, cols: list[str] | None = None) -> pd.DataFrame:
    table = pq.read_table(path, columns=cols)
    return pd.DataFrame({c: table.column(c).to_pylist() for c in table.column_names})


def check_batch(root: str, expected: dict) -> list[str]:
    """Mismatches between one ``plans.job.run`` warehouse and the oracle;
    empty when the run is correct."""
    problems = []
    cols = {
        "parsed_turns": PARSED_COLS,
        "templates": ["template_id", "pattern", "log_count"],
        "hourly_rollup": HOURLY_COLS,
        "error_rates": ERROR_COLS,
        "top_templates": ["template_id", "cnt"],
        "global_stats": GLOBAL_COLS,
    }
    try:
        frames = {s: read_sink(latest_snapshot_dir(root, s), c) for s, c in cols.items()}
        routed = {s: read_sink(latest_snapshot_dir(root, s), ["conv_id"]).shape[0] for s in ROUTES}
        latest_snapshot_dir(root, "alerts")
    except (OSError, KeyError, pa.ArrowException) as exc:
        return [f"sink unreadable: {exc}"]
    for sink, want in expected["digests"].items():
        if digest(_rows(frames[sink], cols[sink])) != want:
            problems.append(f"{sink} digest differs from the oracle")
    if routed != expected["routes"]:
        problems.append(f"routed counts {routed} != oracle {expected['routes']}")
    if sum(routed.values()) != len(frames["parsed_turns"]):
        problems.append(f"routed rows {sum(routed.values())} != parsed_turns rows {len(frames['parsed_turns'])}")
    return problems


def check_stream(root: str, files: list[list[tuple]], expected: dict) -> tuple[list[list[str]], list[str]]:
    """Per-trigger problems (trigger i consumed file i) and problems with the
    final template dimension. A per-turn template differing from the oracle's
    is attributed to contract condition 1 (cross-trigger generalization) when
    the oracle template is a generalization of the streamed one, else to
    condition 2 (trigger order) when only ``is_new`` placement differs."""
    per_trigger: list[list[str]] = [[] for _ in files]
    sink = os.path.join(root, "stream_parsed")
    epochs = {}
    for name in os.listdir(sink) if os.path.isdir(sink) else []:
        marker = os.path.join(sink, name, "_COMMITTED")
        if name.startswith("snapshot=") and os.path.exists(marker):
            with open(marker) as fh:
                epochs[int(json.load(fh)["run_id"].rsplit("_", 1)[1])] = os.path.join(sink, name)
    for i, rows in enumerate(files):
        if i not in epochs:
            per_trigger[i].append(f"epoch {i} has no committed stream_parsed snapshot")
            continue
        try:
            got = read_sink(epochs[i], STREAM_COLS)
        except (OSError, KeyError, pa.ArrowException) as exc:
            per_trigger[i].append(f"epoch {i} unreadable: {exc}")
            continue
        want_keys = {(r[0], r[1]) for r in rows}
        got_keys = set(zip(got["conv_id"], got["turn_idx"]))
        if len(got) != len(rows) or got_keys != want_keys:
            per_trigger[i].append(f"epoch {i}: {len(got)} parsed rows for {len(rows)} input turns")
            continue
        for c, t, *rest in _rows(got, STREAM_COLS):
            want = expected["turns"][json.dumps([c, int(t)])]
            have = [_canon(x) for x in rest]
            if have != want:
                per_trigger[i].append(f"epoch {i} turn {c}/{t}: {_contract_condition(have, want)}")
                break
    final = []
    try:
        templates = read_sink(latest_snapshot_dir(root, "stream_templates"), ["template_id", "pattern", "log_count"])
        if digest(_rows(templates, ["template_id", "pattern", "log_count"])) != expected["templates"]:
            final.append("stream_templates differ from the oracle templates")
    except (OSError, KeyError, pa.ArrowException) as exc:
        final.append(f"stream_templates unreadable: {exc}")
    return per_trigger, final


def _contract_condition(have: list, want: list) -> str:
    h_tmpl, w_tmpl = have[1] or "", want[1] or ""
    h_toks, w_toks = h_tmpl.split(" "), w_tmpl.split(" ")
    if h_tmpl != w_tmpl and len(h_toks) == len(w_toks) and all(
        a == b or b == "<*>" for a, b in zip(h_toks, w_toks)
    ):
        return f"contract condition 1 broken (template {h_tmpl!r} later generalized to {w_tmpl!r})"
    if have[:2] == want[:2] and have[2] != want[2]:
        return "contract condition 2 broken (is_new placed in another trigger)"
    return f"row {have} != oracle {want}"
