"""The bench/ scripts share one pipeline driver and one event-log parser,
and the tree carries no stale tooling (no Spark session needed)."""

import importlib
import json
import py_compile
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
BENCH_DIR = REPO / "bench"


@pytest.fixture
def bench_import(monkeypatch):
    """Import a bench/ script as a module; sys.path is restored afterwards."""
    monkeypatch.setattr(sys, "path", [str(BENCH_DIR), *sys.path])
    for name in ("profile_suite", "eventlog_cpu", "scaling"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    return importlib.import_module


def test_profile_suite_reuses_the_bench_driver(bench_import):
    profile_suite = bench_import("profile_suite")
    import bench

    assert bench.__file__ == str(REPO / "bench.py")
    assert profile_suite.run_pipeline is bench.run_pipeline


def _task_end(stage_id: int, cpu_ms: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Metrics": {
            "Executor Run Time": cpu_ms + 5,
            "Executor CPU Time": cpu_ms * 1_000_000,
            "Executor Deserialize Time": 2,
            "Shuffle Read Metrics": {"Local Bytes Read": 1_000_000, "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
            "Output Metrics": {"Bytes Written": 500_000},
        },
    }


def _stage_completed(stage_id: int, name: str, submitted: int, completed: int) -> dict:
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage_id,
            "Stage Name": name,
            "Submission Time": submitted,
            "Completion Time": completed,
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Stage Infos": [{"Stage ID": 0}],
        "Properties": {"spark.job.description": "Q:a"},
    },
    _task_end(0, 40),
    _task_end(0, 50),
    _stage_completed(0, "count at a.py:1\nfull call site", 1_000, 1_500),
    # The second job lists stage 0 as skipped; it still belongs to Q:a.
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}]},
    _task_end(1, 7),
    _stage_completed(1, "save at b.py:2", 2_000, 2_100),
]

APP = "local-1700000000000"


@pytest.mark.parametrize("layout", ["v1", "v2"])
def test_parse_eventlogs_attributes_stages_to_job_descriptions(bench_import, tmp_path, layout):
    if layout == "v1":
        log = tmp_path / APP
    else:
        app_dir = tmp_path / f"eventlog_v2_{APP}"
        app_dir.mkdir()
        (app_dir / f"appstatus_{APP}").write_text("")
        log = app_dir / f"events_1_{APP}"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\nnot json\n")

    parsed = bench_import("eventlog_cpu").parse_eventlogs(str(tmp_path))
    stages = parsed["stages"]

    assert sorted(stages) == [0, 1]
    assert (stages[0]["tasks"], stages[0]["cpu_ms"]) == (2, 90)
    assert (stages[1]["tasks"], stages[1]["cpu_ms"]) == (1, 7)
    assert stages[0]["description"] == "Q:a"
    assert stages[1]["description"] is None
    assert stages[0]["name"] == "count at a.py:1"
    assert (stages[0]["wall_ms"], stages[1]["wall_ms"]) == (500, 100)
    assert stages[0]["deser_ms"] == 4
    assert stages[0]["fetch_wait_ms"] == 6
    assert stages[0]["shuffle_write_mb"] == pytest.approx(4.0)
    assert stages[1]["output_mb"] == pytest.approx(0.5)
    assert parsed["totals"]["tasks"] == 3
    assert parsed["totals"]["cpu_ms"] == 97


def test_no_tracked_bytecode():
    if shutil.which("git") is None or not (REPO / ".git").exists():
        pytest.skip("needs git and the repository's .git directory")
    tracked = subprocess.run(
        ["git", "ls-files", "*.pyc"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    assert tracked == []


def test_referenced_bench_scripts_exist():
    sources = [REPO / "README.md", *REPO.glob("docs/*.md"), *REPO.glob("log_parser_mind_spark/**/*.py")]
    named = {
        m.group(1)
        for path in sources
        for m in re.finditer(r"(?<![\w/])bench/(\w+)\.py", path.read_text(errors="replace"))
    }
    assert named, "expected at least one bench/ script reference"
    assert sorted(n for n in named if not (BENCH_DIR / f"{n}.py").exists()) == []


def test_bench_scripts_compile(tmp_path):
    scripts = sorted(BENCH_DIR.glob("*.py"))
    assert scripts
    for script in scripts:
        py_compile.compile(str(script), cfile=str(tmp_path / f"{script.stem}.pyc"), doraise=True)
