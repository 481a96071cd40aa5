"""Arrow-vectorized pandas UDFs wrapping the geometry kernel, and the
JVM-side envelope predicates that let scans avoid them.

The UDFs are batch-vectorized (Arrow transfer, numpy inner loops). Ingest
runs :func:`envelope_kernel` once per row to persist the envelope columns
and the ``__shape`` code. A bbox scan always pushes
:func:`envelope_prefilter` into the parquet scan; its exact predicate is
:func:`envelope_predicate_sql` (pure Catalyst, no Python worker) when the
manifest stats prove every row ``SHAPE_SIMPLE``, and
:func:`bbox_predicate_column` otherwise (operators/spatial.py).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.geometry.geom import (
    envelope,
    geometry_type_wkb,
    parse_wkb,
)
from xcube_geodb_spark.geometry.predicates import Box, bbox_predicate

_POINT_WKB_LE = b"\x01\x01\x00\x00\x00"  # little-endian 2D point header
# little-endian polygon, 1 ring, 5 points: the fixed 93-byte rectangle form
_RECT_WKB_LE = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"

_ENVELOPE_TYPE = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@F.pandas_udf(T.StringType())
def geom_type_udf(wkb: pd.Series) -> pd.Series:
    """PostGIS ``GeometryType(geometry)`` — header-only WKB read."""
    return wkb.map(lambda b: geometry_type_wkb(b) if b is not None else None)


SHAPE_SIMPLE = 0  # the geometry is its own envelope (or NULL)
SHAPE_OTHER = 1  # anything the exact kernel must evaluate

_ENVELOPE_SHAPE_TYPE = T.StructType(
    [*_ENVELOPE_TYPE.fields, T.StructField("shape", T.ByteType())]
)


def _rect_ring_ok(xs, ys):
    """Mask of 5-point rings (``xs``/``ys`` of shape (n, 5)) that are true
    axis-aligned rectangles: closed, consecutive edges alternate
    horizontal/vertical, and each diagonal pair differs in BOTH
    coordinates. The diagonal test rejects degenerate out-and-back rings
    whose phantom envelope would disagree with the exact kernel."""
    import numpy as np

    ok = (xs[:, 0] == xs[:, 4]) & (ys[:, 0] == ys[:, 4])
    for k in range(4):
        ok &= (xs[:, k] == xs[:, k + 1]) | (ys[:, k] == ys[:, k + 1])
    return ok & (
        (xs[:, 0] != xs[:, 2])
        & (ys[:, 0] != ys[:, 2])
        & (xs[:, 1] != xs[:, 3])
        & (ys[:, 1] != ys[:, 3])
    )


def envelope_kernel(vals):
    """Envelopes and shape codes of a batch of WKB values (object array).

    Returns an (n, 4) float array of (xmin, ymin, xmax, ymax), NaN for
    NULL geometry, and an (n,) int8 array of shape codes:
    ``SHAPE_SIMPLE`` for NULL, a finite little-endian 2D point, or a
    finite axis-aligned rectangle (the exact layouts
    :func:`bbox_predicate_column` decodes on its numpy fast path), else
    ``SHAPE_OTHER``. Envelopes are bit-identical to
    ``envelope(parse_wkb(...))``."""
    import numpy as np

    n = len(vals)
    cols = np.full((n, 4), np.nan)
    shape = np.full(n, SHAPE_OTHER, dtype=np.int8)
    is_null = np.fromiter((b is None for b in vals), dtype=bool, count=n)
    shape[is_null] = SHAPE_SIMPLE
    is_point = np.fromiter(
        (
            b is not None and len(b) == 21 and bytes(b[:5]) == _POINT_WKB_LE
            for b in vals
        ),
        dtype=bool,
        count=n,
    )
    handled = is_point | is_null
    idx = np.nonzero(is_point)[0]
    if len(idx):  # vectorized 2D-point fast path
        buf = b"".join(bytes(vals[i][5:21]) for i in idx)
        coords = np.frombuffer(buf, dtype="<f8").reshape(-1, 2)
        shape[idx[np.isfinite(coords).all(axis=1)]] = SHAPE_SIMPLE
        # NaN coordinates: the scalar kernel folds them against +/-inf
        # (Python min/max keep the first arg on a NaN comparison) while
        # the batch path would surface NaN -> NULL. Route those rows to
        # the per-row fallback so fast == slow bit-for-bit.
        nan_rows = np.isnan(coords).any(axis=1)
        if nan_rows.any():
            handled[idx[nan_rows]] = False
            idx, coords = idx[~nan_rows], coords[~nan_rows]
        cols[idx, 0] = cols[idx, 2] = coords[:, 0]
        cols[idx, 1] = cols[idx, 3] = coords[:, 1]
    # vectorized single-ring polygon path (squares, rectangles, simple
    # parcels — the dominant non-point ingest shape): one frombuffer +
    # axis-min/max per distinct byte length instead of a per-row
    # parse_wkb. Bit-identical to envelope(parse_wkb(...)) — rings with
    # any NaN coordinate are routed to the fallback below, since numpy
    # min/max propagate NaN where the scalar path's Python min/max
    # against +/-inf yield inf/-inf; a polygon's envelope is the min/max
    # of its outer ring's points.
    poly1_hdr = _RECT_WKB_LE[:9]
    by_len: dict[int, list[int]] = {}
    for i in np.nonzero(~handled)[0]:
        b = vals[i]
        if (
            len(b) >= 29
            and bytes(b[:9]) == poly1_hdr
            and len(b)
            == 13 + 16 * int.from_bytes(bytes(b[9:13]), "little")
        ):
            by_len.setdefault(len(b), []).append(i)
            handled[i] = True
    for length, idxs in by_len.items():
        npts = (length - 13) // 16
        buf = b"".join(bytes(vals[i][13:]) for i in idxs)
        coords = np.frombuffer(buf, dtype="<f8").reshape(len(idxs), npts, 2)
        a = np.asarray(idxs)
        if npts == 5:
            rect = _rect_ring_ok(coords[:, :, 0], coords[:, :, 1])
            shape[a[rect & np.isfinite(coords).all(axis=(1, 2))]] = SHAPE_SIMPLE
        nan_rows = np.isnan(coords).any(axis=(1, 2))
        if nan_rows.any():
            handled[a[nan_rows]] = False
            a, coords = a[~nan_rows], coords[~nan_rows]
            if not len(a):
                continue
        cols[a, 0] = coords[:, :, 0].min(axis=1)
        cols[a, 1] = coords[:, :, 1].min(axis=1)
        cols[a, 2] = coords[:, :, 0].max(axis=1)
        cols[a, 3] = coords[:, :, 1].max(axis=1)
    for i in np.nonzero(~handled)[0]:
        cols[i] = envelope(parse_wkb(bytes(vals[i])))
    return cols, shape


def envelope_frame(vals, index=None) -> pd.DataFrame:
    """:func:`envelope_kernel` as a frame: xmin/ymin/xmax/ymax (None for
    NULL geometry) and the int8 ``shape`` code."""
    cols, shape = envelope_kernel(vals)
    env = pd.DataFrame(cols, columns=["xmin", "ymin", "xmax", "ymax"], index=index)
    out = env.astype(object).where(env.notna(), None)
    out["shape"] = pd.Series(shape, index=out.index)
    return out


@F.pandas_udf(_ENVELOPE_TYPE)
def envelope_udf(wkb: pd.Series) -> pd.DataFrame:
    return envelope_frame(wkb.to_numpy(dtype=object)).drop(columns="shape")


@F.pandas_udf(_ENVELOPE_SHAPE_TYPE)
def _envelope_shape_udf(wkb: pd.Series) -> pd.DataFrame:
    return envelope_frame(wkb.to_numpy(dtype=object))


def with_envelope_columns(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Persisted at ingest: __xmin/__ymin/__xmax/__ymax envelope columns
    drive parquet min/max file pruning for every spatial scan; the
    ``__shape`` code lets bbox scans skip the exact kernel on
    collections whose stats prove every geometry is its own envelope
    (operators/spatial.py)."""
    env = _envelope_shape_udf(F.col(geometry_col)).alias("__env")
    df = df.withColumn("__env", env)
    return (
        df.withColumn("__xmin", F.col("__env.xmin"))
        .withColumn("__ymin", F.col("__env.ymin"))
        .withColumn("__xmax", F.col("__env.xmax"))
        .withColumn("__ymax", F.col("__env.ymax"))
        .withColumn("__shape", F.col("__env.shape"))
        .drop("__env")
    )


def _rect_batch_predicate(mode: str, env, box: Box):
    """Vectorized comparison-mode evaluation for axis-aligned rectangles.
    ``env`` is an (n, 4) array of (xmin, ymin, xmax, ymax)."""
    import numpy as np

    xmin, ymin, xmax, ymax = box
    eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
    gx0, gy0, gx1, gy1 = env[:, 0], env[:, 1], env[:, 2], env[:, 3]
    ix = np.minimum(xmax, gx1) - np.maximum(xmin, gx0)
    iy = np.minimum(ymax, gy1) - np.maximum(ymin, gy0)
    intersects = (ix >= -eps) & (iy >= -eps)
    ii = (ix > eps) & (iy > eps)
    sq_in_box = (
        (gx0 >= xmin - eps)
        & (gx1 <= xmax + eps)
        & (gy0 >= ymin - eps)
        & (gy1 <= ymax + eps)
    )
    box_in_sq = (
        (gx0 <= xmin + eps)
        & (gx1 >= xmax - eps)
        & (gy0 <= ymin + eps)
        & (gy1 >= ymax - eps)
    )
    if mode == "intersects":
        return intersects
    if mode == "disjoint":
        return ~intersects
    if mode == "contains":
        return sq_in_box & ii
    if mode == "within":
        return box_in_sq
    if mode == "touches":
        return intersects & ~ii
    if mode == "overlaps":
        return ii & ~sq_in_box & ~box_in_sq
    if mode == "equals":
        return sq_in_box & box_in_sq
    # crosses: always false for area-vs-area
    return np.zeros(len(env), dtype=bool)


def _point_batch_predicate(mode: str, xs, ys, box: Box):
    """Vectorized numpy evaluation of every comparison mode for points."""
    import numpy as np

    xmin, ymin, xmax, ymax = box
    eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
    closed = (xs >= xmin) & (xs <= xmax) & (ys >= ymin) & (ys <= ymax)
    interior = (
        (xs > xmin + eps) & (xs < xmax - eps) & (ys > ymin + eps) & (ys < ymax - eps)
    )
    if mode == "intersects":
        return closed
    if mode == "disjoint":
        return ~closed
    if mode == "contains":
        return interior
    if mode == "touches":
        return closed & ~interior
    # within / overlaps / crosses / equals are all false for a point vs a
    # non-degenerate box
    return np.zeros(len(xs), dtype=bool)


def bbox_predicate_column(mode: str, box: Box, geometry_col: str = "geometry") -> Column:
    """Exact ``ST_<mode>(bbox, geom)`` as a vectorized pandas-UDF Column.

    Fast paths: 2D point WKB (fixed 21-byte layout) and axis-aligned
    rectangle polygons (fixed 93-byte layout) are decoded with a single
    ``np.frombuffer`` per batch and evaluated with numpy boolean algebra —
    ~50x over the per-row kernel. Everything else falls back to the full
    kernel per row."""
    import numpy as np

    bx = tuple(float(v) for v in box)

    @F.pandas_udf(T.BooleanType())
    def _pred(wkb: pd.Series) -> pd.Series:
        vals = wkb.to_numpy(dtype=object)
        n = len(vals)
        out = np.zeros(n, dtype=bool)
        handled = np.zeros(n, dtype=bool)

        is_point = np.fromiter(
            (
                b is not None and len(b) == 21 and bytes(b[:5]) == _POINT_WKB_LE
                for b in vals
            ),
            dtype=bool,
            count=n,
        )
        idx = np.nonzero(is_point)[0]
        if len(idx):
            buf = b"".join(bytes(vals[i][5:21]) for i in idx)
            coords = np.frombuffer(buf, dtype="<f8").reshape(-1, 2)
            out[idx] = _point_batch_predicate(mode, coords[:, 0], coords[:, 1], bx)
            handled[idx] = True

        maybe_rect = np.fromiter(
            (
                b is not None and len(b) == 93 and bytes(b[:13]) == _RECT_WKB_LE
                for b in vals
            ),
            dtype=bool,
            count=n,
        )
        ridx = np.nonzero(maybe_rect)[0]
        if len(ridx):
            buf = b"".join(bytes(vals[i][13:93]) for i in ridx)
            ring = np.frombuffer(buf, dtype="<f8").reshape(-1, 5, 2)
            xs, ys = ring[..., 0], ring[..., 1]
            rect_ok = _rect_ring_ok(xs, ys)
            env = np.stack(
                [
                    xs[:, :4].min(axis=1),
                    ys[:, :4].min(axis=1),
                    xs[:, :4].max(axis=1),
                    ys[:, :4].max(axis=1),
                ],
                axis=1,
            )
            good = np.nonzero(rect_ok)[0]
            if len(good):
                res = _rect_batch_predicate(mode, env[good], bx)
                out[ridx[good]] = res
                handled[ridx[good]] = True

        for i in np.nonzero(~handled)[0]:
            b = vals[i]
            out[i] = (
                bbox_predicate(mode, parse_wkb(bytes(b)), bx)
                if b is not None
                else False
            )
        return pd.Series(out)

    return _pred(F.col(geometry_col))


def envelope_predicate_sql(mode: str, box: Box) -> str | None:
    """Exact ``ST_<mode>(bbox, geom)`` over the persisted envelope columns,
    as one Spark SQL string — valid only for rows whose ``__shape`` is
    ``SHAPE_SIMPLE`` (NULL geometry, or a geometry equal to its finite
    envelope).

    Mirrors :func:`_point_batch_predicate` (rows with ``__xmin = __xmax``)
    and :func:`_rect_batch_predicate` (all others) operation for
    operation: every box-side constant is computed here in Python floats
    exactly as the numpy path computes it, and rendered as a ``D``
    literal (a bare ``0.1`` would parse as DECIMAL). One parsed string
    instead of ~150 py4j Column calls. Returns None for a non-finite box,
    where Spark's NaN ordering would diverge from numpy's."""
    bx = tuple(float(v) for v in box)
    if not all(math.isfinite(v) for v in bx):
        return None
    xmin, ymin, xmax, ymax = bx
    eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)

    def d(v: float) -> str:
        return f"({v!r}D)"

    closed = (
        f"__xmin >= {d(xmin)} AND __xmin <= {d(xmax)} "
        f"AND __ymin >= {d(ymin)} AND __ymin <= {d(ymax)}"
    )
    interior = (
        f"__xmin > {d(xmin + eps)} AND __xmin < {d(xmax - eps)} "
        f"AND __ymin > {d(ymin + eps)} AND __ymin < {d(ymax - eps)}"
    )
    ix = f"(least({d(xmax)}, __xmax) - greatest({d(xmin)}, __xmin))"
    iy = f"(least({d(ymax)}, __ymax) - greatest({d(ymin)}, __ymin))"
    intersects = f"{ix} >= {d(-eps)} AND {iy} >= {d(-eps)}"
    ii = f"{ix} > {d(eps)} AND {iy} > {d(eps)}"
    sq_in_box = (
        f"__xmin >= {d(xmin - eps)} AND __xmax <= {d(xmax + eps)} "
        f"AND __ymin >= {d(ymin - eps)} AND __ymax <= {d(ymax + eps)}"
    )
    box_in_sq = (
        f"__xmin <= {d(xmin + eps)} AND __xmax >= {d(xmax - eps)} "
        f"AND __ymin <= {d(ymin + eps)} AND __ymax >= {d(ymax - eps)}"
    )
    point, rect = {
        "intersects": (closed, intersects),
        "disjoint": (f"NOT ({closed})", f"NOT ({intersects})"),
        "contains": (interior, f"{sq_in_box} AND {ii}"),
        "within": ("false", box_in_sq),
        "touches": (f"({closed}) AND NOT ({interior})", f"({intersects}) AND NOT ({ii})"),
        "overlaps": ("false", f"{ii} AND NOT ({sq_in_box}) AND NOT ({box_in_sq})"),
        "equals": ("false", f"{sq_in_box} AND {box_in_sq}"),
        "crosses": ("false", "false"),
    }[mode]
    # least/greatest skip NULLs, so NULL geometry must be decided first
    return (
        f"CASE WHEN __xmin IS NULL THEN false "
        f"WHEN __xmin = __xmax THEN {point} ELSE {rect} END"
    )


def envelope_prefilter(mode: str, box: Box) -> Column | None:
    """Cheap JVM-side pre-filter on the persisted envelope columns — pushed
    into the parquet scan. Returns a *necessary* condition for the exact
    predicate (None when the mode admits no envelope shortcut, i.e.
    ``disjoint``)."""
    xmin, ymin, xmax, ymax = (float(v) for v in box)
    # margin keeps the pre-filter strictly looser than the exact kernel
    # predicate (which tolerates ~1e-9 relative) — it must stay a NECESSARY
    # condition, never reject a row the kernel would accept
    m = 1e-6 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
    env_intersects = (
        (F.col("__xmin") <= xmax + m)
        & (F.col("__xmax") >= xmin - m)
        & (F.col("__ymin") <= ymax + m)
        & (F.col("__ymax") >= ymin - m)
    )
    if mode in ("intersects", "touches", "overlaps", "crosses"):
        return env_intersects
    if mode in ("contains", "equals"):
        # geom ⊆ box ⇒ envelope ⊆ box
        return (
            (F.col("__xmin") >= xmin - m)
            & (F.col("__xmax") <= xmax + m)
            & (F.col("__ymin") >= ymin - m)
            & (F.col("__ymax") <= ymax + m)
        )
    if mode == "within":
        # box ⊆ geom ⇒ geom envelope ⊇ box
        return (
            (F.col("__xmin") <= xmin + m)
            & (F.col("__xmax") >= xmax - m)
            & (F.col("__ymin") <= ymin + m)
            & (F.col("__ymax") >= ymax - m)
        )
    return None  # disjoint: complement — no cheap necessary condition
