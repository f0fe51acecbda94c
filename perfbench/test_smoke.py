"""Smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The check test needs no Spark. The two run tests start one benchmark run
each (about a minute apiece on 4 cores).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import run  # noqa: E402
import workloads  # noqa: E402


def _write_output(rows, results, out: Path) -> None:
    """A job output as run_extract lays it out: hive ``bucket=`` dirs."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from snacktory_spark.schema import EXTRACT_SCHEMA
    from snacktory_spark.udf import _results_to_frame

    frame = _results_to_frame(results)
    table = pa.Table.from_pandas(frame, schema=to_arrow_schema(EXTRACT_SCHEMA),
                                 preserve_index=False)
    table = table.add_column(0, "conv_id", pa.array([r[0] for r in rows]))
    table = table.add_column(1, "turn_idx", pa.array([r[1] for r in rows], pa.int32()))
    (out / "bucket=0").mkdir(parents=True)
    pq.write_table(table, out / "bucket=0" / "part-0.parquet")


def test_perturbed_output_counts_as_failed(tmp_path):
    rows = workloads.chat_turns(seed=3)[:60]
    results, _ = run.replay(rows)
    checker = run.Checker("chat_turns", rows, results, tmp_path)

    _write_output(rows, results, tmp_path / "good")
    assert checker(tmp_path / "good", {}) == (0, [])

    html = next(i for i, r in enumerate(rows) if "<" in r[3])
    bad = [dict(r) for r in results]
    bad[html]["title"] += " (changed)"
    _write_output(rows, bad, tmp_path / "bad")
    failed, problems = checker(tmp_path / "bad", {})
    assert failed == len(rows)
    assert problems == ["1 extracted rows differ from the replay"]


def test_benchmark_json_declares_what_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


def _last_json(trace: int, workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,workload,units", [
    (0, "chat_turns", run.E2E_UNITS),
    (1, "corpus_prep", run.LAYER_UNITS),
])
def test_every_metric_prints_with_its_unit(trace, workload, units):
    res = _last_json(trace, workload)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())
