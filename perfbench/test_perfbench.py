"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q

The last test runs the traced benchmark in a subprocess (about a minute
per workload).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.workloads import _Capture, _read_docs  # noqa: E402
from readabilityimproved_spark.operators.extract import extract_spans  # noqa: E402

SMALL = {"extract": 200, "pipeline": 200, "links": 100, "neardup": 1000}


def _files(docs_path: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(docs_path):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), docs_path)] = f.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    a, exp_a = inputs.corpus(str(tmp_path / "a"), workload, 5, SMALL[workload])
    b, exp_b = inputs.corpus(str(tmp_path / "b"), workload, 5, SMALL[workload])
    assert _files(a) == _files(b)
    assert exp_a == exp_b


def test_different_seed_gives_different_docs(tmp_path):
    a, _ = inputs.corpus(str(tmp_path), "extract", 5, 200)
    b, _ = inputs.corpus(str(tmp_path), "extract", 6, 200)
    ids_a = {r["doc_id"] for r in _read_docs(a)}
    ids_b = {r["doc_id"] for r in _read_docs(b)}
    assert ids_a.isdisjoint(ids_b)


def test_stale_cache_is_regenerated(tmp_path):
    path, _ = inputs.corpus(str(tmp_path), "extract", 5, 200)
    victim = os.path.join(path, "f00.parquet")
    with open(victim, "rb") as f:
        good = f.read()
    with open(victim, "ab") as f:
        f.write(b"x")
    path2, _ = inputs.corpus(str(tmp_path), "extract", 5, 200)
    assert path2 == path
    with open(victim, "rb") as f:
        assert f.read() == good


def test_hostile_share_gives_the_same_failed_frac(tmp_path):
    path, expected = inputs.corpus(str(tmp_path), "extract", 5, 300)
    batch = pd.DataFrame(_read_docs(path))
    fn = extract_spans(_Capture()).fn
    fracs = []
    for _ in range(2):
        out = pd.concat(fn(iter([batch])))
        fracs.append(float((out["status"] != "ok").mean()))
    assert fracs[0] == fracs[1] == expected["hostile"] / 300
    assert expected["hostile"] == 300 // inputs.HOSTILE_EVERY


@pytest.mark.parametrize("workload", ["extract", "pipeline"])
def test_traced_layers_sum_to_the_wall(workload):
    """ROADMAP item 1's done-when: the attributed layers (driver time
    outside Spark jobs, plus each stage's wall as its tasks explain it)
    are within 15% of the job's wall time."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stdout[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"]
    coverage = result["metrics"]["trace.coverage_frac"]["value"]
    assert 0.85 <= coverage <= 1.15, coverage
