"""Seeded benchmark inputs, made with the package's own generator and writer.

The inputs are blocks of one pool: ``synth.synth_transcripts(n_convs=300 *
32, seed=42)``, cut into 32 blocks of 300 consecutive conversations (three of
them hot, 100x longer), each written by ``sources.tables.write_transcripts``
(month dir x conversation-hash bucket files), which ``synth_batch`` reads.
``--seed s`` selects block ``s % 32``. The stream corpus is the same rows with
the PII suffix stripped by a regexp; a run splits it into conversation-range
files (``stream_files``).

``prepare`` writes the pool once, in a separate Python process with its own
Spark session, so no timed run shares a JVM with the generator, and computes
a block's oracle expectations (``checks``) on first use. Everything is cached
under ``.perfbench/inputs/``.

    python3 -m perfbench.inputs <out dir>   # what prepare runs
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
N_CONVS, BLOCKS, POOL_SEED = 300, 32, 42
POOL = os.path.join(ROOT, ".perfbench", "inputs", f"pool-{BLOCKS}x{N_CONVS}-seed{POOL_SEED}")
# The PII suffix synth._text_expr appends to ~2% of turns.
PII_SUFFIX = r" contact \S+@\S+ phone [0-9-]+ ssn [0-9-]+ card [0-9-]+$"


def prepare(seed: int) -> str:
    """The directory of the block ``seed`` selects: ``transcripts/`` (the
    batch input), ``batch.json`` and ``stream.json`` (oracle digests,
    properties and turn count of each workload). A failed build leaves no
    cache entry."""
    if not os.path.exists(os.path.join(POOL, "_DONE")):
        tmp = f"{POOL}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            subprocess.run([sys.executable, "-m", "perfbench.inputs", tmp],
                           cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=800)
            shutil.rmtree(POOL, ignore_errors=True)
            os.replace(tmp, POOL)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    block = os.path.join(POOL, f"block-{seed % BLOCKS:02d}")
    if not os.path.exists(os.path.join(block, "stream.json")):
        from perfbench import checks

        for name, build, table in (
            ("batch", checks.batch_expectations, rows(block)),
            ("stream", checks.stream_expectations, stream_rows(block)),
        ):
            pdf = checks.transcripts_frame(table.to_pandas())
            tmp = os.path.join(block, f"{name}.json.{os.getpid()}.tmp")
            with open(tmp, "w") as fh:
                json.dump(dict(build(pdf), n_turns=len(pdf)), fh)
            os.replace(tmp, os.path.join(block, f"{name}.json"))
    return block


def rows(cache: str) -> pa.Table:
    """Every row of the batch input. Spark writes INT96 instants, which
    pyarrow reads as naive nanoseconds; they come back as UTC microseconds,
    a parquet type Spark reads as timestamp."""
    table = pq.read_table(os.path.join(cache, "transcripts"), columns=COLUMNS)
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC")))


def stream_rows(cache: str) -> pa.Table:
    """The stream corpus: every row with the PII suffix stripped. Each PII
    variant of a template is so rare (~0.13% of turns) that the first trigger
    sees too few of them to generalize it fully, which breaks condition 1 of
    the convergence contract in docs/streaming.md (seen at seed 1)."""
    table = rows(cache)
    i = table.schema.get_field_index("text")
    return table.set_column(i, "text", pc.replace_substring_regex(table.column("text"), PII_SUFFIX, ""))


def split_conversation_ranges(table: pa.Table, n_files: int) -> list[pa.Table]:
    """Sort by (conv_id, turn_idx) and cut into ``n_files`` contiguous conv_id
    ranges of roughly equal turn counts; a conversation is never split."""
    table = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    conv = table.column("conv_id").to_pylist()
    target = len(conv) / n_files
    cuts = [0]
    for i in range(1, len(conv)):
        if conv[i] != conv[i - 1] and len(cuts) < n_files and i >= target * len(cuts):
            cuts.append(i)
    if len(cuts) != n_files:
        raise ValueError(f"cannot split {len(conv)} rows into {n_files} conversation ranges")
    cuts.append(len(conv))
    return [table.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]


def stream_files(cache: str, path: str, n_files: int) -> list[list[tuple[str, int]]]:
    """Write the stream corpus as ``n_files`` conversation-range files
    ``part-NNNNN.parquet`` under ``path``. Returns the (conv_id, turn_idx) of
    each file's rows; with ``streaming.stream.pin_stream_file_order`` file i
    is trigger i."""
    os.makedirs(path)
    keys = []
    for i, part in enumerate(split_conversation_ranges(stream_rows(cache), n_files)):
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
        keys.append(list(zip(part.column("conv_id").to_pylist(), part.column("turn_idx").to_pylist())))
    return keys


def _build(out: str) -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from pyspark.sql import functions as F

    from log_parser_mind_spark.session import get_spark
    from log_parser_mind_spark.sources.tables import write_transcripts
    from log_parser_mind_spark.synth import synth_transcripts
    from perfbench import probes

    spark = get_spark(app_name="perfbench-inputs", prewarm_python_workers=False)
    try:
        pool = synth_transcripts(spark, n_convs=N_CONVS * BLOCKS, seed=POOL_SEED).persist()
        for b in range(BLOCKS):
            first, last = f"conv_{b * N_CONVS:08d}", f"conv_{(b + 1) * N_CONVS - 1:08d}"
            block = pool.filter(F.col("conv_id").between(first, last))
            write_transcripts(block, os.path.join(out, f"block-{b:02d}", "transcripts"))
    finally:
        probes.stop_session(spark)
    open(os.path.join(out, "_DONE"), "w").close()


if __name__ == "__main__":
    _build(sys.argv[1])
