"""Recorded benchmark artifacts are machine-readable: every BENCH/*.json
parses as JSON (no console progress bars captured into it)."""

import json
import pathlib

import pytest

BENCH = sorted((pathlib.Path(__file__).resolve().parents[1] / "BENCH")
               .glob("*.json"))


def test_bench_dir_has_artifacts():
    assert BENCH


@pytest.mark.parametrize("path", BENCH, ids=lambda p: p.name)
def test_bench_artifact_parses(path):
    json.loads(path.read_text())
