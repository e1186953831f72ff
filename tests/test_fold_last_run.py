"""tools/fold_last_run.py fails loudly on malformed bench output."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

TOOL = Path(__file__).resolve().parents[1] / "tools" / "fold_last_run.py"


def _fold(tmp_path, *stdouts: str) -> subprocess.CompletedProcess:
    ins = []
    for i, text in enumerate(stdouts):
        p = tmp_path / f"bench{i}.txt"
        p.write_text(text)
        ins.append(str(p))
    return subprocess.run(
        [sys.executable, str(TOOL), str(tmp_path / "out.json"), *ins],
        cwd=tmp_path, capture_output=True, text=True,
    )


def test_folds_min_per_query_across_sessions(tmp_path):
    a = "WARN noise\n" + json.dumps({"queries": {"q1": 2.0, "q2": 1.0}})
    b = json.dumps({"queries": {"q1": 1.5, "q2": 3.0}}) + "\n"
    r = _fold(tmp_path, a, b)
    assert r.returncode == 0, r.stderr
    art = json.loads((tmp_path / "out.json").read_text())
    assert art["queries"] == {"q1": 1.5, "q2": 1.0}
    assert len(art["sessions"]) == 2


@pytest.mark.parametrize(
    "text, msg",
    [
        ("WARN noise\n{not json\n", "found 0"),
        ('{"queries": {"q": 1.0}}\n{"queries": {"q": 2.0}}\n', "found 2"),
        ('{"total": 3.0}\n', "'queries'"),
        ('{"queries": {"q": "slow"}}\n', "'queries'"),
    ],
    ids=["no-json-line", "two-json-lines", "no-queries", "non-numeric"],
)
def test_malformed_input_exits_nonzero(tmp_path, text, msg):
    r = _fold(tmp_path, text)
    assert r.returncode != 0
    assert msg in r.stderr and "bench0.txt" in r.stderr
    assert not (tmp_path / "out.json").exists()
