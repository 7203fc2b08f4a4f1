"""Smoke test of the benchmark: both workloads on a tiny corpus, traced,
with every answer checked by the oracle.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402
import workloads  # noqa: E402


def _tiny(monkeypatch):
    monkeypatch.setattr(workloads, "INDEX_MARKETS", 60)
    monkeypatch.setattr(workloads, "DB_MARKETS", 80)
    monkeypatch.setattr(workloads, "BATCH", (10, 3, 3))
    monkeypatch.setattr(workloads, "MIX_BLOCKS", 1)


def test_index_build_and_maintain(monkeypatch):
    _tiny(monkeypatch)
    for workload in ("index_build", "maintain"):
        args = run.parse_args(
            ["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "1"]
        )
        result = run.run(args)
        assert result["correct"] and result["failed"] == 0, result
        metrics = result["metrics"]
        assert [m for m, _, _ in workloads.PER_LAYER] == list(metrics)
        assert (run.WORK_ROOT / "traces" / f"{workload}-seed3.json").is_file()
        assert metrics["select_samples"]["value"] == sum(workloads.SHAPES.values())
        if workload == "index_build":
            assert metrics["sources.files_listed"]["value"] > 0
            assert metrics["sources.derived_defs"]["value"] > 0
            assert metrics["etl.spark_jobs"]["value"] > 0
        else:
            assert metrics["inserts.actions_skip"]["value"] == 3
            assert metrics["inserts.actions_update"]["value"] == 3
            assert metrics["rollup.routed_ratio"]["value"] == 1
            assert metrics["inserts.spark_jobs"]["value"] > 0
