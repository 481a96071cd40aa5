"""tools/capture_plans.py writes into the newest plans/r<N> round
directory unless $SPARK_GRAFT_PLANS_ROUND names one."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "capture_plans", os.path.join(REPO, "tools", "capture_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_default_round_is_newest_numbered_dir(tmp_path):
    for d in ("r9", "r13", "r12", "rx", "notes"):
        (tmp_path / d).mkdir()
    (tmp_path / "r20").write_text("a file, not a round")
    assert _tool().default_round(str(tmp_path)) == "r13"


def test_default_round_without_rounds(tmp_path):
    tool = _tool()
    assert tool.default_round(str(tmp_path)) == "r1"
    assert tool.default_round(str(tmp_path / "missing")) == "r1"

