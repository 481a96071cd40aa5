"""The ``__shape`` system column and the Catalyst bbox predicate.

A bbox scan evaluates its exact predicate in Catalyst over the envelope
columns when the manifest proves every row's geometry is its own envelope,
and through the geometry-kernel UDF otherwise. Both branches are forced
here and must select identical rows; every writer must keep the shape
stats truthful so the dispatch never picks the envelope branch for a row
it cannot answer."""

from __future__ import annotations

import math
import struct

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.geometry.udfs import (
    SHAPE_OTHER,
    SHAPE_SIMPLE,
    bbox_predicate_column,
    envelope_kernel,
    envelope_predicate_sql,
    with_envelope_columns,
)
from xcube_geodb_spark.operators import spatial
from xcube_geodb_spark.plans.inspect import executed_plan

NAN, INF = float("nan"), float("inf")


def _point(x, y, big_endian=False) -> bytes:
    if big_endian:
        return b"\x00\x00\x00\x00\x01" + struct.pack(">dd", x, y)
    return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)


def _ring(pts, big_endian=False) -> bytes:
    if big_endian:
        out = b"\x00\x00\x00\x00\x03" + struct.pack(">II", 1, len(pts))
        return out + b"".join(struct.pack(">dd", x, y) for x, y in pts)
    out = b"\x01\x03\x00\x00\x00" + struct.pack("<II", 1, len(pts))
    return out + b"".join(struct.pack("<dd", x, y) for x, y in pts)


def _rect(x0, y0, x1, y1, start=0, clockwise=False) -> bytes:
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    if clockwise:
        corners = corners[::-1]
    corners = corners[start:] + corners[:start]
    return _ring(corners + corners[:1])


# (geometry, expected shape code)
ROWS = [
    (_point(1.0, 1.0), SHAPE_SIMPLE),
    (_point(0.0, -0.0), SHAPE_SIMPLE),
    (_point(-0.0, 0.0), SHAPE_SIMPLE),
    (_point(2.0, 3.0), SHAPE_SIMPLE),
    (_point(1.5, 0.0), SHAPE_SIMPLE),
    (_rect(0.0, 0.0, 2.0, 3.0), SHAPE_SIMPLE),
    (_rect(0.0, 0.0, 2.0, 3.0, start=2, clockwise=True), SHAPE_SIMPLE),
    (_rect(-0.0, -0.0, 1.0, 1.0, start=1), SHAPE_SIMPLE),
    (_rect(1.0, 1.0, 2.0, 3.0, start=3), SHAPE_SIMPLE),
    (_rect(-1.0, -1.0, 4.0, 5.0), SHAPE_SIMPLE),
    (_rect(0.5, 0.5, 1.5, 1.5), SHAPE_SIMPLE),
    (None, SHAPE_SIMPLE),
    (_point(NAN, 1.0), SHAPE_OTHER),
    (_point(1.0, INF), SHAPE_OTHER),
    (_point(-INF, 0.0), SHAPE_OTHER),
    (_rect(0.0, 0.0, 2.0, NAN), SHAPE_OTHER),
    (_rect(0.0, 0.0, INF, 3.0), SHAPE_OTHER),
    # out-and-back rings: 93 bytes like a rectangle, zero area
    (_ring([(0, 0), (2, 0), (2, 2), (2, 0), (0, 0)]), SHAPE_OTHER),
    (_ring([(0, 0), (2, 0), (0, 0), (2, 0), (0, 0)]), SHAPE_OTHER),
    (_point(1.0, 1.0, big_endian=True), SHAPE_OTHER),
    (_ring([(0, 0), (2, 0), (2, 3), (0, 3), (0, 0)], big_endian=True), SHAPE_OTHER),
    (_ring([(0, 0), (2, 0), (1, 3), (0, 0)]), SHAPE_OTHER),  # triangle
    (_ring([(0, 0), (2, 0), (3, 3), (0, 3), (0, 0)]), SHAPE_OTHER),  # trapezoid
]


def _boxes():
    """Boxes whose edges sit on row coordinates and within a few eps of
    them, on both sides, plus boxes inside / around / equal to rows."""
    out = []
    bases = [
        (0.0, 0.0, 2.0, 3.0),
        (1.0, 1.0, 2.0, 3.0),
        (0.5, 0.5, 1.5, 1.5),
        (-1.0, -1.0, 1.0, 1.0),
        (0.25, 0.25, 0.75, 0.75),
        (-0.0, -0.0, 1.0, 1.0),
        (1.5, -2.0, 5.0, 0.0),
    ]
    for b in bases:
        eps = 1e-9 * max(abs(v) for v in b + (1.0,))
        for k in (-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0):
            out.append(tuple(v + k * eps for v in b))
        out.append((b[0] - 1.5 * eps, b[1] + 0.5 * eps, b[2] + 0.5 * eps, b[3] - 1.5 * eps))
    return out


def test_kernel_shape_codes():
    _, shape = envelope_kernel([g for g, _ in ROWS])
    assert list(shape) == [code for _, code in ROWS]


@pytest.fixture(scope="module")
def rows_df(spark):
    df = spark.createDataFrame(
        [(i, g) for i, (g, _) in enumerate(ROWS)], "i long, geometry binary"
    )
    return with_envelope_columns(df).cache()


def test_shape_column_matches_kernel(rows_df):
    got = {r.i: r["__shape"] for r in rows_df.select("i", "__shape").collect()}
    assert got == {i: code for i, (_, code) in enumerate(ROWS)}


@pytest.mark.parametrize("mode", COMPARISON_MODES)
def test_envelope_predicate_matches_udf(rows_df, mode):
    """Forced-branch parity on every row the envelope branch may see
    (shape code simple): identical row sets per box, all 8 modes."""
    boxes = _boxes()
    cols = []
    for k, box in enumerate(boxes):
        cols.append(F.expr(envelope_predicate_sql(mode, box)).alias(f"c{k}"))
        cols.append(bbox_predicate_column(mode, box).alias(f"u{k}"))
    res = rows_df.filter(F.col("__shape") == SHAPE_SIMPLE).select("i", *cols).collect()
    assert len(res) == sum(code == SHAPE_SIMPLE for _, code in ROWS)
    for k, box in enumerate(boxes):
        catalyst = {r.i for r in res if r[f"c{k}"]}
        udf = {r.i for r in res if r[f"u{k}"]}
        assert catalyst == udf, (mode, box)


def test_non_finite_box_has_no_envelope_predicate():
    assert envelope_predicate_sql("intersects", (0.0, 0.0, INF, 1.0)) is None
    assert envelope_predicate_sql("contains", (NAN, 0.0, 1.0, 1.0)) is None
    assert envelope_predicate_sql("contains", (0.1, 0.0, 1.0, 1.0)).count("D)") >= 4


# ---------------------------------------------------------------------------
# dispatch through every writer
# ---------------------------------------------------------------------------

BOX = (0.5, 0.5, 6.5, 6.5)
DB = "shape"


def _python_nodes(df) -> int:
    return executed_plan(df).count("ArrowEvalPython")


def _read(catalog, mode):
    return spatial.get_collection_by_bbox(
        catalog, "c", BOX, mode, where="id > -1", database=DB
    )


def _counted(catalog, mode):
    return spatial._bbox_filtered(
        catalog, "c", DB, BOX, mode, None, "AND"
    )


MODES = ("intersects", "contains", "within", "disjoint", "touches")


def _check(catalog, monkeypatch, python_nodes: int):
    """Plans carry the expected number of Python eval nodes, and the
    envelope and kernel branches return the same rows and counts."""
    for mode in ("intersects", "contains"):
        assert _python_nodes(_read(catalog, mode)) == python_nodes, mode
        assert _python_nodes(_counted(catalog, mode)) == python_nodes, mode
    results = {}
    for forced in (False, True):
        with monkeypatch.context() as mp:
            if forced:
                mp.setattr(spatial, "_all_rows_simple", lambda m: False)
            got = {
                mode: [r.id for r in _read(catalog, mode).select("id").collect()]
                for mode in MODES
            }
            got["count"] = spatial.count_collection_by_bbox(
                catalog, "c", BOX, "intersects", database=DB
            )
            results[forced] = got
    assert results[False] == results[True]
    assert results[False]["count"] == len(results[False]["intersects"])
    return results[False]


def _square(x, y, h=0.5) -> str:
    return (
        f"POLYGON (({x - h} {y - h}, {x + h} {y - h}, {x + h} {y + h}, "
        f"{x - h} {y + h}, {x - h} {y - h}))"
    )


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    from xcube_geodb_spark.client import GeoDBSparkClient

    return GeoDBSparkClient(
        spark, warehouse=str(tmp_path_factory.mktemp("wh")), user=DB
    )


def test_writers_keep_shape_stats_truthful(client, spark, monkeypatch):
    cat = client.catalog
    client.create_collection("c", {"v": "int"}, crs=4326)
    # pandas insert: driver-side kernel
    client.insert_into_collection(
        "c",
        pd.DataFrame(
            {
                "geometry": [f"POINT ({i} {i})" for i in range(8)]
                + [_square(i + 0.5, 3.0) for i in range(6)],
                "v": range(14),
            }
        ),
    )
    first = _check(cat, monkeypatch, 0)
    assert first["count"] > 0 and first["contains"]

    # Spark-DataFrame insert (envelope UDF at write time), with a NULL
    # geometry row
    sdf = spark.createDataFrame(
        [(_point(2.25, 2.75), 100), (_rect(4.0, 4.0, 5.0, 6.0), 101), (None, 102)],
        "geometry binary, v int",
    )
    client.insert_into_collection("c", sdf)
    _check(cat, monkeypatch, 0)

    # upsert: merged rows recompute, survivors carry their codes
    client.insert_into_collection(
        "c",
        pd.DataFrame(
            {"id": [1, 2], "geometry": ["POINT (1.25 1.75)", _square(5.0, 5.0)], "v": [7, 8]}
        ),
        upsert=True,
    )
    _check(cat, monkeypatch, 0)

    # an update setting one geometry to a triangle: kernel path
    client.update_collection(
        "c", {"geometry": "POLYGON ((1 1, 3 1, 2 3, 1 1))"}, "id=eq.3"
    )
    with_triangle = _check(cat, monkeypatch, 1)
    assert 3 in with_triangle["intersects"]

    # deleting it: the rewritten file is simple again
    client.delete_from_collection("c", "id=eq.3")
    before = _check(cat, monkeypatch, 0)

    # a legacy file written without __shape: its rows read back NULL and
    # its stats lack the column, so the kernel path answers
    m = cat.meta("c", DB)
    legacy = cat.load_df("c", DB, include_system=True).drop("__shape")
    cat.commit_version("c", DB, legacy, keep_files=[], expected_version=m.version)
    st = cat.meta("c", DB).file_stats()
    assert st and all("__shape" not in s for s in st.values())
    assert _check(cat, monkeypatch, 1) == before

    # an upsert over the legacy file mixes NULL and simple codes in one
    # file: the NULL count keeps the kernel path
    client.insert_into_collection(
        "c", pd.DataFrame({"id": [4], "geometry": ["POINT (4 4)"], "v": [9]}), upsert=True
    )
    assert not spatial._all_rows_simple(cat.meta("c", DB))
    _check(cat, monkeypatch, 1)


def test_empty_collection_and_non_finite_box(client):
    client.create_collection("e", {"v": "int"}, crs=4326)
    df = spatial.get_collection_by_bbox(
        client.catalog, "e", BOX, "intersects", database=DB
    )
    assert _python_nodes(df) == 0
    assert df.count() == 0
    assert spatial.count_collection_by_bbox(
        client.catalog, "e", BOX, "intersects", database=DB
    ) == 0
    # Spark orders NaN/inf unlike numpy: such a box keeps the kernel
    df = spatial.get_collection_by_bbox(
        client.catalog, "e", (0.0, 0.0, math.inf, 1.0), "intersects",
        database=DB,
    )
    assert _python_nodes(df) == 1
