"""tools/scaled_ab.py keeps a replicated dataset between runs; its
``_ready`` marker must record the replication factor so a run with a
different ``-x`` rebuilds instead of timing the wrong scale."""

from __future__ import annotations

import importlib.util
import os
import sys
import types

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_marker_records_replication(monkeypatch, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "scaled_ab", os.path.join(REPO, "tools", "scaled_ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    builds = []

    def prep(sf_dir, repl):
        out = tmp_path / f"built{len(builds)}"
        out.mkdir()
        (out / "repl").write_text(str(repl))
        builds.append(repl)
        return str(out)

    monkeypatch.setitem(sys.modules, "bench", types.SimpleNamespace(_prep_scaled_dir=prep))
    target = tmp_path / "scaled"
    monkeypatch.setenv("SPARK_GRAFT_SCALED_DIR", str(target))
    assert mod.scaled_dir("sf", 2) == str(target)
    assert mod.scaled_dir("sf", 2) == str(target)
    assert builds == [2]  # reused
    mod.scaled_dir("sf", 3)
    assert builds == [2, 3]  # another factor rebuilds
    assert (target / "repl").read_text() == "3"
    (target / "_ready").write_text("ok\n")  # a marker from before the fix
    mod.scaled_dir("sf", 3)
    assert builds == [2, 3, 3]
