"""Spatial operators: bbox scans, counts, extents, geometry types.

Reference: ``geodb_get_by_bbox`` / ``geodb_count_by_bbox``
(``xcube_geodb/sql/geodb.sql:1179-1257`` / ``:1306-1370``) evaluate
``(where) op ST_pred(bbox_polygon, geometry)`` ordered by id. Our physical
strategy (SURVEY.md §4):

1. cheap envelope pre-filter on the persisted ``__xmin..__ymax`` columns —
   a plain range predicate Catalyst pushes into the parquet scan, so files
   and row groups outside the query box are never read;
2. exact predicate on survivors, chosen once per query from the manifest:
   when every live file's commit-time stats prove each row's ``__shape``
   simple (NULL, a finite point, or a finite axis-aligned rectangle — the
   geometry IS its envelope), a pure-Catalyst predicate over the envelope
   columns (``envelope_predicate_sql``, no Python worker); otherwise the
   vectorized geometry-kernel UDF (legacy files without ``__shape`` and
   collections holding any other shape);
3. ``ORDER BY id`` + limit/offset, parity with ``geodb.sql:1240-1241`` —
   one sorted partition (the client collects the result anyway), so no
   range-sampling job re-runs step 2.

The pre-filter is applied only when it is a *necessary* condition of the
final predicate (AND-composition with ``where``; never for ``disjoint``).
"""

from __future__ import annotations

import math
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xcube_geodb_spark.catalog import SYSTEM_COLUMNS, CollectionMeta, GeoDBCatalog
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.crs import check_crs, transform_bbox_crs
from xcube_geodb_spark.geometry.predicates import COMPARISON_MODES
from xcube_geodb_spark.geometry.udfs import (
    SHAPE_SIMPLE,
    bbox_predicate_column,
    envelope_predicate_sql,
    envelope_prefilter,
    geom_type_udf,
)

Bbox = tuple[float, float, float, float]


def _aligned_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    database: str,
    bbox: Bbox,
    bbox_crs,
    wsg84_order: str = "lon_lat",
) -> Bbox:
    """CRS auto-alignment: if the query bbox CRS differs from the collection
    SRID, reproject the bbox first (``geodb.py:1630-1637``)."""
    srid = catalog.get_collection_srid(collection, database)
    crs = check_crs(bbox_crs)
    if crs != srid:
        return transform_bbox_crs(bbox, crs, srid, wsg84_order=wsg84_order)
    if crs == 4326 and wsg84_order == "lat_lon":
        return (bbox[1], bbox[0], bbox[3], bbox[2])
    return bbox


def _all_rows_simple(m: CollectionMeta) -> bool:
    """True when the manifest's commit-time stats prove every live row's
    ``__shape`` is ``SHAPE_SIMPLE``: each file records a ``__shape`` max
    of 0 and no NULL codes (a legacy file lacks the column, so its rows
    read back NULL). Files with no rows carry no column stats. Memoized
    per manifest snapshot."""
    if "all_simple" not in m._derived:
        fstats = m.file_stats()

        def simple(st) -> bool:
            if (st.get("::rows") or [1])[0] == 0:
                return True
            shape, nulls = st.get("__shape"), st.get("::nulls:__shape")
            return shape is not None and shape[1] == SHAPE_SIMPLE and nulls == [0, 0]

        m._derived["all_simple"] = all(
            f in fstats and simple(fstats[f]) for f in m.files
        )
    return m._derived["all_simple"]


def _bbox_filtered(
    catalog: GeoDBCatalog,
    collection: str,
    database: str,
    bbox: Bbox,
    comparison_mode: str,
    where: str | None,
    op: str,
) -> DataFrame:
    if comparison_mode not in COMPARISON_MODES:
        # parity: invalid mode raises (geodb.sql:1213 data_exception)
        raise GeoDBError(
            f"Unknown comparison mode {comparison_mode!r} "
            f"(one of {', '.join(COMPARISON_MODES)})"
        )
    op = (op or "AND").upper()
    if op not in ("AND", "OR"):
        raise GeoDBError(f"op must be AND or OR, got {op!r}")
    m = catalog.meta(collection, database)
    df = catalog.load_df(collection, database, include_system=True)
    sql = None
    # the two manifest reads bracket load_df: equal versions prove the
    # frame reads exactly the snapshot whose stats were checked
    if _all_rows_simple(m) and catalog.meta(collection, database).version == m.version:
        sql = envelope_predicate_sql(comparison_mode, bbox)
    exact = F.expr(sql) if sql else bbox_predicate_column(comparison_mode, bbox)
    pre = envelope_prefilter(comparison_mode, bbox)
    if where:
        wcol = F.expr(where)
        if op == "AND":
            # pre-filter is a necessary condition of (where AND exact)
            if pre is not None:
                df = df.filter(pre)
            df = df.filter(wcol & exact)
        else:
            # OR: rows failing the envelope test may still match `where` —
            # no pre-filter; evaluate exact predicate only where needed
            df = df.filter(wcol | (pre & exact if pre is not None else exact))
    else:
        if pre is not None:
            df = df.filter(pre)
        df = df.filter(exact)
    return df


def get_collection_by_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    bbox: Bbox,
    comparison_mode: str = "contains",
    bbox_crs=4326,
    limit: int | None = None,
    offset: int | None = None,
    where: str | None = None,
    op: str = "AND",
    database: str = "public",
    wsg84_order: str = "lon_lat",
) -> DataFrame:
    """Spatial scan (``geodb.py:1577-1669`` / ``geodb.sql:1179-1257``).

    The result is one partition sorted by id: the client collects it
    anyway, and a global ``orderBy`` would add a range-sampling job that
    evaluates the exact predicate a second time."""
    bbox = _aligned_bbox(catalog, collection, database, bbox, bbox_crs, wsg84_order)
    df = _bbox_filtered(catalog, collection, database, bbox, comparison_mode, where, op)
    df = df.drop(*SYSTEM_COLUMNS).repartition(1).sortWithinPartitions("id")
    if offset:
        df = df.offset(int(offset))
    if limit:
        df = df.limit(int(limit))
    return df


def count_collection_by_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    bbox: Bbox,
    comparison_mode: str = "contains",
    bbox_crs=4326,
    where: str | None = None,
    op: str = "AND",
    database: str = "public",
    wsg84_order: str = "lon_lat",
) -> int:
    """``geodb_count_by_bbox`` (geodb.sql:1306-1370)."""
    bbox = _aligned_bbox(catalog, collection, database, bbox, bbox_crs, wsg84_order)
    return _bbox_filtered(
        catalog, collection, database, bbox, comparison_mode, where, op
    ).count()


def get_collection_bbox(
    catalog: GeoDBCatalog,
    collection: str,
    database: str = "public",
    exact: bool = True,
) -> Bbox | None:
    """Collection extent. Exact path aggregates the persisted envelope
    columns (``ST_Extent`` parity, geodb.sql:426-441); the estimate path
    reads parquet footer min/max only — no Spark job (``ST_EstimatedExtent``
    parity, geodb.sql:443-458; our estimates are exact, SURVEY.md §7)."""
    m = catalog.meta(collection, database)
    if not m.files:
        return None
    if exact:
        row = (
            catalog.load_df(collection, database, include_system=True)
            .agg(
                F.min("__xmin").alias("xmin"),
                F.min("__ymin").alias("ymin"),
                F.max("__xmax").alias("xmax"),
                F.max("__ymax").alias("ymax"),
            )
            .collect()[0]
        )
        if row["xmin"] is None:
            return None
        return (row["xmin"], row["ymin"], row["xmax"], row["ymax"])
    from xcube_geodb_spark.operators.stats import footer_min_max

    env = ("__xmin", "__ymin", "__xmax", "__ymax")
    fstats = m.file_stats()
    if all(f in fstats and all(c in fstats[f] for c in env) for f in m.files):
        # manifest stats cover every file: zero-IO extent
        return (
            min(fstats[f]["__xmin"][0] for f in m.files),
            min(fstats[f]["__ymin"][0] for f in m.files),
            max(fstats[f]["__xmax"][1] for f in m.files),
            max(fstats[f]["__ymax"][1] for f in m.files),
        )
    paths = [
        os.path.join(catalog.warehouse, database, collection, f) for f in m.files
    ]
    mm = footer_min_max(paths, ["__xmin", "__ymin", "__xmax", "__ymax"])
    if len(mm) < 4:
        return None
    return (mm["__xmin"][0], mm["__ymin"][0], mm["__xmax"][1], mm["__ymax"][1])


# candidate rows the kNN refine scores on the driver (the grain of
# ``ids._OFFSET_MAP_MAX_ENTRIES``); above it the distance UDF scores them
_KNN_DRIVER_ROWS = 4096


def _knn_bounds(qx: float, qy: float):
    """Per-row (lower, upper) bounds on the distance to ``(qx, qy)``, plain
    Column arithmetic on the persisted envelope columns. Lower: point to
    envelope box, 0 inside. Upper: distance to the envelope center plus
    half its diagonal (the geometry is non-empty inside its tight
    envelope, so some geometry point is within half a diagonal of the
    center)."""
    zero = F.lit(0.0)
    dx = F.greatest(F.col("__xmin") - qx, F.lit(qx) - F.col("__xmax"), zero)
    dy = F.greatest(F.col("__ymin") - qy, F.lit(qy) - F.col("__ymax"), zero)
    lb = F.sqrt(dx * dx + dy * dy)
    cx = (F.col("__xmin") + F.col("__xmax")) / 2
    cy = (F.col("__ymin") + F.col("__ymax")) / 2
    half_diag = (
        F.sqrt(
            (F.col("__xmax") - F.col("__xmin")) ** 2
            + (F.col("__ymax") - F.col("__ymin")) ** 2
        )
        / 2
    )
    ub = F.sqrt((cx - qx) ** 2 + (cy - qy) ** 2) + half_diag
    return lb, ub


def _knn_candidates(
    df: DataFrame, qx: float, qy: float, threshold: float
) -> DataFrame:
    """Rows of ``df`` (system columns included) whose distance lower bound
    is at most ``threshold``, system columns dropped. A finite threshold
    also yields the box ``[qx-t, qy-t, qx+t, qy+t]`` as a necessary
    envelope range predicate, which Catalyst pushes into the parquet scan
    (the same pruning surface as a bbox query)."""
    lb, _ = _knn_bounds(qx, qy)
    t = float(threshold)
    cond = lb <= F.lit(t)
    if math.isfinite(t):
        box = (qx - t, qy - t, qx + t, qy + t)
        cond = envelope_prefilter("intersects", box) & cond
    return df.filter(cond).drop(*SYSTEM_COLUMNS)


def get_knn(
    catalog: GeoDBCatalog,
    collection: str,
    point: tuple[float, float],
    k: int = 10,
    database: str = "public",
    point_crs=4326,
    wsg84_order: str = "lon_lat",
) -> DataFrame:
    """Exact k nearest neighbors to a point, engine path (the PostGIS
    ``ORDER BY geom <-> q LIMIT k`` idiom).

    Filter-and-refine search that prunes JVM-side and scores only a
    bounded candidate set:

    1. per row, a distance LOWER and UPPER bound (``_knn_bounds``) — plain
       Column arithmetic on the persisted ``__xmin..__ymax`` columns;
    2. threshold T = k-th smallest upper bound (one TakeOrdered job over
       the bound columns only — no geometry bytes move);
    3. rows with ``lower_bound <= T`` (``_knn_candidates``, behind a
       parquet-stat- and file-prunable range predicate on the envelope
       columns — the same pruning surface as a bbox query with box
       ``[qx-T, qy-T, qx+T, qy+T]``) are collected to the driver as Arrow
       in one JVM-only job, capped at ``_KNN_DRIVER_ROWS + 1`` rows. When
       the cap holds, each candidate gets the exact kernel distance
       (``distance(parse_wkb(b), q)``, the same call the UDF makes, so
       ``dist`` is bit-identical), the rows are ordered as
       ``ORDER BY dist, id`` and the first k return as a local frame
       (``LocalTableScan``: collecting it runs one JVM-only job over those
       k rows and starts no Python worker). Above the cap, the candidates
       are scored in an Arrow-vectorized UDF and ``ORDER BY dist LIMIT k``
       runs distributed (TakeOrderedAndProject, per-partition heaps).

    At 100 TB, step 3 touches only the files near the query point; the
    candidate count is O(k) for any non-pathological spatial
    distribution, so the driver refine holds at most ``_KNN_DRIVER_ROWS``
    rows. Pathological inputs (thousands of huge envelopes that all cover
    the query point) overflow the cap and take the UDF fallback, which
    keeps driver memory bounded.
    """
    from pyspark.sql import types as T

    from xcube_geodb_spark.geometry.geom import distance, parse_wkb
    from xcube_geodb_spark.geometry.geom import Geometry
    import numpy as np

    if point_crs is not None:
        srid = catalog.get_collection_srid(collection, database)
        crs = check_crs(point_crs)
        if crs != srid:
            x0, y0, _, _ = transform_bbox_crs(
                (point[0], point[1], point[0], point[1]), crs, srid,
                wsg84_order=wsg84_order,
            )
            point = (x0, y0)
        elif crs == 4326 and wsg84_order == "lat_lon":
            point = (point[1], point[0])
    qx, qy = float(point[0]), float(point[1])

    # a NULL geometry has no envelope and no distance: never a neighbour
    df = catalog.load_df(collection, database, include_system=True).filter(
        F.col("__xmin").isNotNull()
    )
    _, ub = _knn_bounds(qx, qy)
    # collected in ascending order, so the last is the k-th smallest: one
    # TakeOrdered stage (an aggregate on top would add a shuffle stage)
    smallest = df.select(ub.alias("__ub")).orderBy("__ub").limit(int(k)).collect()
    if not smallest:  # no located rows (empty, or only NULL geometries)
        return df.drop(*SYSTEM_COLUMNS).withColumn(
            "dist", F.lit(None).cast("double")
        ).limit(0)

    cand = _knn_candidates(df, qx, qy, smallest[-1][0])
    tbl = cand.limit(_KNN_DRIVER_ROWS + 1).toArrow()
    if tbl.num_rows <= _KNN_DRIVER_ROWS:
        import pyarrow as pa

        q = Geometry("Point", np.array([qx, qy], dtype=np.float64))
        dist = [
            distance(parse_wkb(b), q) for b in tbl.column("geometry").to_pylist()
        ]
        ids = tbl.column("id").to_pylist()
        # Spark's ``orderBy("dist", "id")``: ascending, ties by id
        order = sorted(range(len(dist)), key=lambda i: (dist[i], ids[i]))[: int(k)]
        top = tbl.take(order).append_column(
            "dist", pa.array([dist[i] for i in order], type=pa.float64())
        )
        schema = T.StructType(
            [*cand.schema.fields, T.StructField("dist", T.DoubleType())]
        )
        # an Arrow table becomes a LocalTableScan; a Python list would be
        # a pickled RDD whose scan starts Python workers
        return df.sparkSession.createDataFrame(top, schema)

    @F.pandas_udf(T.DoubleType())
    def _dist(wkb: pd.Series) -> pd.Series:
        q = Geometry("Point", np.array([qx, qy], dtype=np.float64))
        return wkb.map(
            lambda b: distance(parse_wkb(bytes(b)), q) if b is not None else None
        )

    return cand.withColumn("dist", _dist(F.col("geometry"))).orderBy(
        "dist", "id"
    ).limit(int(k))


def get_geometry_types(
    catalog: GeoDBCatalog,
    collection: str,
    aggregate: bool = False,
    database: str = "public",
) -> DataFrame:
    """``geodb_geometry_types`` (geodb.sql:460-482): per-row geometry type
    names, or DISTINCT when aggregate=true."""
    df = catalog.load_df(collection, database).select(
        geom_type_udf(F.col("geometry")).alias("geometrytype")
    )
    return df.distinct() if aggregate else df
