"""kNN refine branches: the driver refine and the distance-UDF fallback.

``get_knn`` collects its candidate rows and scores them on the driver when
there are at most ``_KNN_DRIVER_ROWS`` of them, and runs the distance UDF
otherwise. Both branches are forced here and must return identical client
frames: same rows, order, values, dtypes and ``dist`` bits."""

from __future__ import annotations

import datetime as dt
import re

import numpy as np
import pandas as pd
import pytest

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.operators import spatial
from xcube_geodb_spark.plans.inspect import executed_plan

Q = (5.0, 5.0)

GEOMS = [
    "POINT (5.5 5.25)",
    "POINT (0 0)",
    "POINT (9 1)",
    # three exact ties at distance 3: ordered by id
    "POINT (8 5)",
    "POINT (2 5)",
    "POINT (5 8)",
    "POLYGON ((6 6, 7 6, 7 7, 6 7, 6 6))",  # rectangle
    "POLYGON ((1 1, 2 1, 1.5 2, 1 1))",  # triangle
    "LINESTRING (0 9, 9 9.5)",
    "POLYGON ((3 3, 8 4, 4 8, 3 3))",  # contains Q: dist 0
    None,  # never a candidate
    "POINT (5 2)",  # ties with the three above
    "POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10))",
]


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    c = GeoDBSparkClient(
        spark, warehouse=str(tmp_path_factory.mktemp("wh")), user="knnref"
    )
    c.create_collection(
        "g", {"n": "int", "tag": "text", "day": "date", "ts": "timestamp"}
    )
    n = len(GEOMS)
    c.insert_into_collection(
        "g",
        pd.DataFrame(
            {
                "geometry": GEOMS,
                "n": [None if i % 4 == 1 else i for i in range(n)],
                "tag": [f"t{i}" for i in range(n)],
                "day": [dt.date(2020, 1, 1 + i) for i in range(n)],
                "ts": [
                    dt.datetime(2021, 3, 4, 5, 6, 7, 1000 * i) for i in range(n)
                ],
            }
        ),
    )
    c.create_collection("empty", {"n": "int", "day": "date"})
    return c


def _knn(client, collection, k, point=Q):
    df = spatial.get_knn(
        client.catalog, collection, point, k=k, database="knnref"
    )
    plan = executed_plan(df)
    return client.get_collection_knn(collection, point, k=k), plan


def _assert_same(a: pd.DataFrame, b: pd.DataFrame) -> None:
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert (
        a["dist"].to_numpy().view(np.int64).tolist()
        == b["dist"].to_numpy().view(np.int64).tolist()
    )


def _assert_driver(plan: str) -> None:
    assert "LocalTableScan" in plan
    assert "EvalPython" not in plan


def _forced_udf(client, monkeypatch, collection, k, point=Q):
    with monkeypatch.context() as m:
        m.setattr(spatial, "_KNN_DRIVER_ROWS", 0)
        got, plan = _knn(client, collection, k, point)
    assert "ArrowEvalPython" in plan
    return got


@pytest.mark.parametrize("k", [1, 5, 8, 100])
def test_branches_agree(client, monkeypatch, k):
    drv, plan = _knn(client, "g", k)
    _assert_driver(plan)
    _assert_same(drv, _forced_udf(client, monkeypatch, "g", k))
    assert len(drv) == min(k, len(GEOMS) - 1)  # the NULL geometry never ranks


def test_expected_order_and_ties(client):
    got, _ = _knn(client, "g", 8)
    # the containing polygon first; the four exact ties at 3.0 by id
    assert got["tag"].iloc[0] == "t9"
    assert got["dist"].iloc[0] == 0.0
    ties = got[got["dist"] == 3.0]
    assert list(ties["tag"]) == ["t3", "t4", "t5", "t11"]
    assert list(ties["id"]) == sorted(ties["id"])
    # NULL integer property survives as a NULL
    assert got["n"].isna().any()
    assert got["dist"].is_monotonic_increasing


def test_point_outside_extent(client, monkeypatch):
    point = (-40.0, 30.0)
    drv, plan = _knn(client, "g", 3, point)
    _assert_driver(plan)
    _assert_same(drv, _forced_udf(client, monkeypatch, "g", 3, point))


def test_empty_collection(client, monkeypatch):
    drv, _ = _knn(client, "empty", 3)
    with monkeypatch.context() as m:
        m.setattr(spatial, "_KNN_DRIVER_ROWS", 0)
        udf, _ = _knn(client, "empty", 3)
    assert len(drv) == 0 and "dist" in drv.columns
    pd.testing.assert_frame_equal(drv, udf)


def test_cap_boundary(client, monkeypatch):
    # with k above the row count every located row is a candidate
    k = 100
    ref, _ = _knn(client, "g", k)
    n_cand = len(ref)
    assert n_cand == len(GEOMS) - 1
    with monkeypatch.context() as m:
        m.setattr(spatial, "_KNN_DRIVER_ROWS", n_cand)
        at_cap, plan = _knn(client, "g", k)
    _assert_driver(plan)
    _assert_same(at_cap, ref)
    with monkeypatch.context() as m:
        m.setattr(spatial, "_KNN_DRIVER_ROWS", n_cand - 1)
        over_cap, plan = _knn(client, "g", k)
    assert "ArrowEvalPython" in plan
    _assert_same(over_cap, ref)


def test_candidate_frame_runs_no_python(client):
    df = client.catalog.load_df("g", "knnref", include_system=True)
    cand = spatial._knn_candidates(df, *Q, 3.0)
    plan = executed_plan(cand)
    assert "EvalPython" not in plan
    assert "__xmin" not in cand.columns
    # the envelope box reaches parquet as a translated filter, not only as
    # a post-scan DataFilter
    pushed = re.search(r"PushedFilters: \[([^\]\n]*)", plan).group(1)
    assert "__xmin" in pushed


def test_null_geometry_never_ranks(client):
    # NULL geometries have NULL envelopes: they neither set the threshold
    # (k=1 must still find the nearest row) nor come back as candidates
    got, _ = _knn(client, "g", 1)
    assert list(got["tag"]) == ["t9"]
    got, _ = _knn(client, "g", 100)
    assert got["geometry"].notna().all() and got["dist"].notna().all()
