"""Query scratch files have one owner: ``session.scratch_dir`` hands
out fresh directories under the driver's per-application SparkFiles
root, which Spark deletes when the application stops. No query writes
to the process-wide temp dir, and no engine code outside
``scratch_dir`` asks for one."""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import sys
import tempfile

import pytest

from vega_spark import registry

PKG = pathlib.Path(__file__).resolve().parent.parent / "vega_spark"

# every registry query that writes files of its own
FILE_WRITERS = (
    "bucketed_join_priority_revenue",
    "compact_small_files",
    "custom_sink_jsonl_roundtrip",
    "optimize_table_orders",
    "partitioned_scan_prune",
    "read_merge_schema_evolution",
    "read_whole_files_dir",
    "save_parquet_partitioned_roundtrip",
    "save_text_roundtrip",
    "streaming_anomaly_flags",
    "streaming_dedup_exact",
    "streaming_interval_join_pairs",
    "streaming_kmv_rollup",
    "streaming_left_outer_interval_join",
    "streaming_session_windows",
    "streaming_stream_static_join",
    "streaming_versioned_rollup",
    "streaming_watermark_drops",
    "streaming_windowed_counts",
    "versioned_bloom_point_lookup",
    "versioned_change_feed_orders",
    "versioned_data_skipping_orders",
    "versioned_delete_keys_orders",
    "versioned_time_travel_orders",
    "versioned_zorder_2d_skipping",
    "write_size_targeted_roundtrip",
)


@pytest.mark.parametrize("name", FILE_WRITERS)
def test_query_leaves_process_temp_dir_empty(spark, sf_dir, name,
                                             tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert registry.QUERIES[name](spark, sf_dir).count() >= 0
    assert os.listdir(tmp_path) == []


_STOP_PROBE = """
import os, sys
from vega_spark.session import get_session, scratch_dir
spark = get_session("scratch-stop", cpus=1, shuffle_partitions=1)
d = scratch_dir(spark, "probe")
spark.range(3).write.parquet(os.path.join(d, "t"))
root = os.path.dirname(d)
assert os.path.isdir(root) and os.listdir(d)
spark.stop()
print(root)
"""


def test_scratch_root_is_deleted_at_stop(tmp_path):
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               SPARK_LOCAL_DIRS=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [str(PKG.parent)]
                   + [p for p in os.environ.get("PYTHONPATH", "").split(
                       os.pathsep) if p]))
    out = subprocess.run([sys.executable, "-c", _STOP_PROBE], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    root = out.stdout.strip().splitlines()[-1]
    assert root.startswith(str(tmp_path)) and root.endswith("vega_scratch")
    assert not os.path.exists(root)


def _temp_dir_sites() -> set[tuple[str, str]]:
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name if fn is None else fn
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)):
                names = [node.value]
            if any("tempfile" in n or "gettempdir" in n for n in names):
                sites.add((rel, fn or "<module>"))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)
        visit(ast.parse(path.read_text(), str(path)), None)
    return sites


def test_temp_dirs_come_only_from_scratch_dir():
    assert _temp_dir_sites() == {("session.py", "scratch_dir")}, (
        "take scratch directories from vega_spark.session.scratch_dir")
