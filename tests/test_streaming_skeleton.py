"""The streaming day-drop skeleton stays in one place: only
streaming/core.py starts a foreachBatch stream, and no streaming
module reaches into another's private helpers. Reads source text
only — no Spark session."""

from __future__ import annotations

import ast
import pathlib

STREAMING = pathlib.Path(__file__).resolve().parents[1] / "fxa_activity_metrics_spark" / "streaming"
# Spark's parquet file sink, not foreachBatch: these start their own query
PARQUET_SINKS = {"join_stream.py", "native_dedup_stream.py"}


def _sources() -> dict[str, str]:
    return {p.name: p.read_text() for p in sorted(STREAMING.glob("*.py"))}


def test_only_core_starts_foreach_batch_streams():
    srcs = _sources()
    assert [n for n, s in srcs.items() if ".foreachBatch(" in s] == ["core.py"]
    for token in ("availableNow", "writeStream"):
        assert {n for n, s in srcs.items() if token in s} == {"core.py"} | PARQUET_SINKS, token


def test_no_private_imports_across_streaming_modules():
    bad = []
    for name, src in _sources().items():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "fxa_activity_metrics_spark.streaming"
            ):
                bad += [f"{name}: {node.module}.{a.name}" for a in node.names if a.name.startswith("_")]
    assert bad == []
