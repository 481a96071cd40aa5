#!/usr/bin/env python
"""Capture .explain('formatted') for bench/headline queries into
plans/<round>/<query>_<tag>.txt (optimization-round evidence artifacts;
round dir from $SPARK_GRAFT_PLANS_ROUND, default the newest plans/r<N>).

Usage: python tools/capture_plans.py <tag> [query ...]
       (default queries: the bench HEADLINE list)

Note: for composed warehouse operators (ann_*, dml_*, warehouse_*) the
returned DataFrame's plan covers only the final read/probe stage — the
build/ingest stages execute inside the suite function; their evidence is
the operator code + timed keys.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def default_round(plans_dir: str) -> str:
    """Name of the newest ``r<N>`` directory under ``plans_dir`` (largest
    N), or ``r1`` when there is none."""
    rounds = [
        d for d in (os.listdir(plans_dir) if os.path.isdir(plans_dir) else [])
        if d[:1] == "r" and d[1:].isdigit()
        and os.path.isdir(os.path.join(plans_dir, d))
    ]
    return max(rounds, key=lambda d: int(d[1:]), default="r1")


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xcube_geodb_spark.session import get_spark
    from xcube_geodb_spark.suite import QUERIES

    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    plans_dir = os.path.join(REPO, "plans")
    out_dir = os.path.join(
        plans_dir,
        os.environ.get("SPARK_GRAFT_PLANS_ROUND") or default_round(plans_dir),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    for name in names:
        fn = QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:
            text = f"ERROR capturing plan: {type(e).__name__}: {e}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
