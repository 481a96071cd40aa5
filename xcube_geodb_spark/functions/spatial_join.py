"""Distributed spatial join: grid-partitioned ``st_intersects`` /
``st_dwithin`` / ``st_within`` / ``st_contains`` / ``st_touches`` /
``st_overlaps`` / ``st_crosses`` / ``st_equals`` joins between two
geometry DataFrames.

The reference exposes spatial joins only implicitly — PostGIS evaluates
``ST_Intersects(a.geometry, b.geometry)`` inside a single-node nested-loop
over GIST indexes (arbitrary SQL through the ``geodb_get_pg`` passthrough,
/root/reference/xcube_geodb/sql/geodb.sql:1123-1177). At 100 TB neither a
nested loop nor a broadcast survives, so this engine uses the classic
partitioned spatial-join plan (the PBSM / SpatialSpark lineage):

1. **Grid assignment** — each row is replicated to every fixed-size grid
   cell its envelope overlaps (two JVM-side ``explode(sequence(...))``
   calls; no Python). Cell size defaults to a one-pass heuristic over the
   envelope columns (average feature extent, clamped so the grid stays
   bounded) — one tiny agg job, then a pure column plan.
2. **Equi-join on the cell key** — Spark shuffles both sides by
   ``(cx, cy)``; the join itself is a hash join on the cell, with the
   envelope-overlap test applied as an inline join predicate. No
   broadcast, no cartesian: cost scales with features-per-cell, and AQE
   re-splits skewed cells.
3. **Reference-point dedup** — a pair whose envelopes overlap k cells
   would surface k times; instead of a global ``distinct`` (a second
   full-width shuffle), each pair is emitted only from the single cell
   that contains the top-left corner of the envelope intersection. This
   is plain column arithmetic, so dedup costs zero extra shuffles.
4. **Exact refinement** — envelope overlap is only a filter; surviving
   candidates (a tiny fraction of the cross product) run the exact
   geometry kernel (`geometry/geom.distance`: 0 iff intersecting) through
   one Arrow-vectorized pandas UDF with a numpy point/point fast path.

``predicate="dwithin"`` generalizes step 2/3 by expanding the left
envelope by ``distance`` before grid assignment, and step 4 into
``kernel_distance <= distance``.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xcube_geodb_spark.geometry.udfs import with_envelope_columns

_ENV = ("__xmin", "__ymin", "__xmax", "__ymax")


def _ensure_env(df: DataFrame, geom: str) -> DataFrame:
    if all(c in df.columns for c in _ENV):
        return df
    return with_envelope_columns(df, geom).drop("__shape")


def derive_cell_size(left: DataFrame, right: DataFrame) -> float:
    """One small agg job: cell ≈ 4× the mean feature extent of the denser
    side, clamped to keep the global grid under ~2^20 cells per axis.

    Heuristic from the partition-based spatial-merge literature: cells a
    few times the average envelope keep replication (rows × cells) low
    while still splitting the join into per-cell hash joins.
    """
    env = ["__xmin", "__ymin", "__xmax", "__ymax"]
    both = left.select(env).unionByName(right.select(env))
    stats = (
        both.groupBy()  # single job over the union; envelope cols only
        .agg(
            F.avg(F.col("__xmax") - F.col("__xmin")).alias("w"),
            F.avg(F.col("__ymax") - F.col("__ymin")).alias("h"),
            F.min("__xmin").alias("x0"),
            F.max("__xmax").alias("x1"),
            F.min("__ymin").alias("y0"),
            F.max("__ymax").alias("y1"),
        )
        .collect()
    )
    mean_ext = max(
        max(r["w"] or 0.0, r["h"] or 0.0) for r in stats
    )
    span = max(
        max((r["x1"] or 0.0) - (r["x0"] or 0.0), (r["y1"] or 0.0) - (r["y0"] or 0.0))
        for r in stats
    )
    cell = 4.0 * mean_ext
    if cell <= 0.0:
        cell = span / 256.0 if span > 0.0 else 1.0
    # keep the grid ≤ ~2^20 cells per axis even for tiny features
    if span > 0.0:
        cell = max(cell, span / float(1 << 20))
    return float(cell)


def _grid_cells(df: DataFrame, cell: float, pad: float) -> DataFrame:
    """Replicate each row to every cell its (padded) envelope overlaps —
    two chained JVM-side explodes, no Python on the path."""
    inv = 1.0 / cell
    cx0 = F.floor((F.col("__xmin") - F.lit(pad)) * F.lit(inv))
    cx1 = F.floor((F.col("__xmax") + F.lit(pad)) * F.lit(inv))
    cy0 = F.floor((F.col("__ymin") - F.lit(pad)) * F.lit(inv))
    cy1 = F.floor((F.col("__ymax") + F.lit(pad)) * F.lit(inv))
    return df.withColumn("__cx", F.explode(F.sequence(cx0, cx1))).withColumn(
        "__cy", F.explode(F.sequence(cy0, cy1))
    )


_POINT_HDR = b"\x01\x01\x00\x00\x00"
# little-endian polygon, 1 ring, 5 points (the 93-byte rectangle form)
_RECT_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"


def _classify_boxes(vals):
    """Vectorized WKB triage: (kind, boxes) where kind is 0=point,
    1=axis-aligned rectangle, 2=general, and boxes is an (n, 4) array of
    (xmin, ymin, xmax, ymax) valid for kinds 0 and 1. Points and
    axis-aligned rectangles are by far the common spatial-join operands,
    and their min-distance is closed-form interval arithmetic — no kernel.
    """
    import numpy as np

    n = len(vals)
    kind = np.full(n, 2, dtype=np.int8)
    boxes = np.full((n, 4), np.nan)
    pt_idx = [
        i
        for i, b in enumerate(vals)
        if b is not None and len(b) == 21 and bytes(b[:5]) == _POINT_HDR
    ]
    if pt_idx:
        coords = np.frombuffer(
            b"".join(bytes(vals[i][5:21]) for i in pt_idx), dtype="<f8"
        ).reshape(-1, 2)
        ii = np.asarray(pt_idx)
        kind[ii] = 0
        boxes[ii, 0] = boxes[ii, 2] = coords[:, 0]
        boxes[ii, 1] = boxes[ii, 3] = coords[:, 1]
    rc_idx = [
        i
        for i, b in enumerate(vals)
        if b is not None and len(b) == 93 and bytes(b[:13]) == _RECT_HDR
    ]
    if rc_idx:
        ring = np.frombuffer(
            b"".join(bytes(vals[i][13:93]) for i in rc_idx), dtype="<f8"
        ).reshape(-1, 5, 2)
        xs, ys = ring[..., 0], ring[..., 1]
        x0, x1 = xs.min(axis=1), xs.max(axis=1)
        y0, y1 = ys.min(axis=1), ys.max(axis=1)
        # a true axis-aligned rectangle ring: closed, every vertex on a
        # corner (each coordinate equals its ring min or max)
        ok = (
            (ring[:, 0] == ring[:, 4]).all(axis=1)
            & ((xs == x0[:, None]) | (xs == x1[:, None])).all(axis=1)
            & ((ys == y0[:, None]) | (ys == y1[:, None])).all(axis=1)
        )
        ii = np.asarray(rc_idx)[ok]
        kind[ii] = 1
        boxes[ii, 0], boxes[ii, 1] = x0[ok], y0[ok]
        boxes[ii, 2], boxes[ii, 3] = x1[ok], y1[ok]
    return kind, boxes


def _pair_predicate_udf(mode: str):
    """Arrow-batched geom–geom predicate per WKB pair (the refinement
    stage for within/contains/touches/overlaps/crosses/equals joins).
    The dominant workload — points against axis-aligned rectangles under
    within/contains — is decided vectorized when the point is CLEARLY
    interior (margin > 8x the relate kernel's scale epsilon, so the
    answer cannot differ from the kernel's); boundary-band and irregular
    pairs run the authoritative DE-9IM kernel, with a per-batch parse
    cache so a polygon joined against many points parses once."""
    import numpy as np

    from xcube_geodb_spark.geometry.geom import parse_wkb
    from xcube_geodb_spark.geometry.relate import geom_predicate

    @F.pandas_udf(T.BooleanType())
    def _pred(lwkb: pd.Series, rwkb: pd.Series) -> pd.Series:
        lv = lwkb.to_numpy(dtype=object)
        rv = rwkb.to_numpy(dtype=object)
        n = len(lv)
        out = np.zeros(n, dtype=bool)
        done = np.zeros(n, dtype=bool)
        if mode in ("within", "contains"):
            lk, lb = _classify_boxes(lv)
            rk, rb = _classify_boxes(rv)
            pk, pb, qk, qb = (
                (lk, lb, rk, rb) if mode == "within" else (rk, rb, lk, lb)
            )
            fast = (
                (pk == 0) & (qk == 1)
                & (qb[:, 2] > qb[:, 0]) & (qb[:, 3] > qb[:, 1])
            )
            idx = np.nonzero(fast)[0]
            if len(idx):
                # mirror relate._scale_eps: 1e-9 * max(1, |envelope coords|)
                scale = np.maximum(
                    1.0,
                    np.maximum(
                        np.abs(pb[idx]).max(axis=1),
                        np.abs(qb[idx]).max(axis=1),
                    ),
                )
                margin = 8e-9 * scale
                inner = (
                    (pb[idx, 0] - qb[idx, 0] > margin)
                    & (qb[idx, 2] - pb[idx, 0] > margin)
                    & (pb[idx, 1] - qb[idx, 1] > margin)
                    & (qb[idx, 3] - pb[idx, 1] > margin)
                )
                clearly_out = (
                    (pb[idx, 0] - qb[idx, 0] < -margin)
                    | (qb[idx, 2] - pb[idx, 0] < -margin)
                    | (pb[idx, 1] - qb[idx, 1] < -margin)
                    | (qb[idx, 3] - pb[idx, 1] < -margin)
                )
                decided = inner | clearly_out
                out[idx[decided]] = inner[decided]
                done[idx[decided]] = True
        cache: dict[bytes, object] = {}

        def _geom(b):
            bb = bytes(b)
            g = cache.get(bb)
            if g is None:
                g = parse_wkb(bb)
                cache[bb] = g
            return g

        for i in np.nonzero(~done)[0]:
            a, b = lv[i], rv[i]
            if a is None or b is None:
                continue
            out[i] = bool(geom_predicate(mode, _geom(a), _geom(b)))
        return pd.Series(out)

    return _pred


def _pair_distance_udf():
    """Arrow-batched exact min-distance per WKB pair. Point/rectangle
    operands (detected per batch) use the closed-form box distance fully
    vectorized in numpy; only irregular geometries fall back to the
    per-pair kernel sweep."""
    import numpy as np

    from xcube_geodb_spark.geometry.geom import distance, parse_wkb

    @F.pandas_udf(T.DoubleType())
    def _dist(lwkb: pd.Series, rwkb: pd.Series) -> pd.Series:
        lv = lwkb.to_numpy(dtype=object)
        rv = rwkb.to_numpy(dtype=object)
        n = len(lv)
        out = np.full(n, np.nan)
        lk, lb = _classify_boxes(lv)
        rk, rb = _classify_boxes(rv)
        boxy = (lk < 2) & (rk < 2)
        idx = np.nonzero(boxy)[0]
        if len(idx):
            # box-to-box min distance: per-axis gap, 0 when intervals
            # overlap. For two points this reduces to sqrt(dx^2+dy^2) in
            # the same operation order as the SQL form, so an oracle
            # comparison can't flip at a threshold.
            gx = np.maximum(
                np.maximum(lb[idx, 0] - rb[idx, 2], rb[idx, 0] - lb[idx, 2]), 0.0
            )
            gy = np.maximum(
                np.maximum(lb[idx, 1] - rb[idx, 3], rb[idx, 1] - lb[idx, 3]), 0.0
            )
            out[idx] = np.sqrt(gx * gx + gy * gy)
        for i in np.nonzero(~boxy)[0]:
            a, b = lv[i], rv[i]
            if a is None or b is None:
                continue
            out[i] = distance(parse_wkb(bytes(a)), parse_wkb(bytes(b)))
        return pd.Series(out)

    return _dist


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    distance: float = 0.0,
    cell_size: float | None = None,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    rsuffix: str = "_r",
    include_distance: str | None = None,
) -> DataFrame:
    """Inner spatial join of two geometry DataFrames.

    predicate:
      - ``"intersects"`` — pairs whose geometries touch or overlap
        (``ST_Intersects`` semantics: boundary contact counts).
      - ``"dwithin"`` — pairs whose kernel min-distance is ≤ ``distance``
        (``ST_DWithin``).
      - ``"within"`` / ``"contains"`` / ``"touches"`` / ``"overlaps"`` /
        ``"crosses"`` / ``"equals"`` — the DE-9IM-derived geom–geom
        predicates (``geometry/relate.py``), PostGIS semantics. The grid
        candidate stage tightens its envelope condition per predicate
        (within: env(l) ⊆ env(r); contains mirrored; equals: envelopes
        equal), and refinement runs the relate kernel Arrow-batched with
        a vectorized clear-interior fast path for point-in-rectangle.

    Output columns: every left column, then every right column with
    clashing names suffixed by ``rsuffix``. Helper columns are dropped.
    ``include_distance`` names an extra output column carrying the exact
    pair distance (only for intersects/dwithin, whose refinement
    computes it anyway).
    """
    _RELATE_MODES = (
        "within", "contains", "touches", "overlaps", "crosses", "equals",
    )
    if predicate not in ("intersects", "dwithin") + _RELATE_MODES:
        raise ValueError(f"unsupported spatial-join predicate: {predicate!r}")
    if include_distance and predicate in _RELATE_MODES:
        raise ValueError(
            "include_distance is only computed for intersects/dwithin"
        )
    d = float(distance) if predicate == "dwithin" else 0.0
    if d < 0.0 or not math.isfinite(d):
        raise ValueError(f"distance must be finite and >= 0, got {distance!r}")

    lf = _ensure_env(left, left_geom)
    rf = _ensure_env(right, right_geom)
    if cell_size is None:
        # the dwithin pad widens every left envelope by 2d: folding d into
        # the cell size bounds replication at <= 3 cells per axis however
        # large the search radius gets
        cell_size = max(derive_cell_size(lf, rf), d)
    cell = float(cell_size)
    if cell <= 0.0 or not math.isfinite(cell):
        raise ValueError(f"cell_size must be finite and > 0, got {cell_size!r}")

    # rename right columns that clash (geometry, envelope, user columns)
    clashes = set(lf.columns) & set(rf.columns)
    renamed = {c: (c + rsuffix if c in clashes else c) for c in rf.columns}
    rf = rf.select([F.col(c).alias(n) for c, n in renamed.items()])
    r_env = [renamed[c] for c in _ENV]
    r_geom = renamed[right_geom]

    lg = _grid_cells(lf, cell, pad=d).alias("l")
    rg = (
        rf.withColumnRenamed(r_env[0], "__xmin")
        .withColumnRenamed(r_env[1], "__ymin")
        .withColumnRenamed(r_env[2], "__xmax")
        .withColumnRenamed(r_env[3], "__ymax")
    )
    rg = _grid_cells(rg, cell, pad=0.0)
    for tmp, orig in zip(_ENV, r_env):
        rg = rg.withColumnRenamed(tmp, orig)
    rg = rg.alias("r")

    lx0, ly0 = F.col("l.__xmin") - F.lit(d), F.col("l.__ymin") - F.lit(d)
    lx1, ly1 = F.col("l.__xmax") + F.lit(d), F.col("l.__ymax") + F.lit(d)
    rx0, ry0 = F.col(f"r.{r_env[0]}"), F.col(f"r.{r_env[1]}")
    rx1, ry1 = F.col(f"r.{r_env[2]}"), F.col(f"r.{r_env[3]}")

    overlap: Column = (lx0 <= rx1) & (rx0 <= lx1) & (ly0 <= ry1) & (ry0 <= ly1)
    # tighter NECESSARY envelope conditions for containment-family
    # predicates: they prune the candidate set before refinement but
    # never decide membership (the kernel does). Padded by 10x the relate
    # kernel's scale epsilon so an eps-sliver the kernel would still
    # accept is never pruned away.
    if predicate in ("within", "contains", "equals"):
        eps = F.lit(1e-8) * F.greatest(
            F.lit(1.0),
            F.abs(lx0), F.abs(lx1), F.abs(ly0), F.abs(ly1),
            F.abs(rx0), F.abs(rx1), F.abs(ry0), F.abs(ry1),
        )
        if predicate == "within":
            overlap = (
                (rx0 <= lx0 + eps) & (lx1 <= rx1 + eps)
                & (ry0 <= ly0 + eps) & (ly1 <= ry1 + eps)
            )
        elif predicate == "contains":
            overlap = (
                (lx0 <= rx0 + eps) & (rx1 <= lx1 + eps)
                & (ly0 <= ry0 + eps) & (ry1 <= ly1 + eps)
            )
        else:  # equals
            overlap = (
                (F.abs(lx0 - rx0) <= eps) & (F.abs(lx1 - rx1) <= eps)
                & (F.abs(ly0 - ry0) <= eps) & (F.abs(ly1 - ry1) <= eps)
            )
    # reference point: top-left corner of the (padded) envelope
    # intersection — exactly one grid cell contains it, so each candidate
    # pair survives in exactly one of its replicated cells
    inv = 1.0 / cell
    ref_ok = (
        F.floor(F.greatest(lx0, rx0) * F.lit(inv)) == F.col("l.__cx")
    ) & (F.floor(F.greatest(ly0, ry0) * F.lit(inv)) == F.col("l.__cy"))

    cand = lg.join(
        rg,
        (F.col("l.__cx") == F.col("r.__cx"))
        & (F.col("l.__cy") == F.col("r.__cy"))
        & overlap
        & ref_ok,
        "inner",
    )

    if predicate in ("intersects", "dwithin"):
        dist_fn = _pair_distance_udf()
        cand = cand.withColumn(
            "__pairdist",
            dist_fn(F.col(f"l.{left_geom}"), F.col(f"r.{r_geom}")),
        ).filter(F.col("__pairdist") <= F.lit(d))
    else:
        pred_fn = _pair_predicate_udf(predicate)
        cand = cand.filter(
            pred_fn(F.col(f"l.{left_geom}"), F.col(f"r.{r_geom}"))
        )

    keep = [F.col(f"l.{c}").alias(c) for c in left.columns] + [
        F.col(f"r.{renamed[c]}").alias(renamed[c]) for c in right.columns
    ]
    if include_distance:
        keep.append(F.col("__pairdist").alias(include_distance))
    return cand.select(keep)


def spatial_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    left_id: str = "id",
    initial_radius: float | None = None,
    growth: float = 4.0,
    max_rounds: int = 6,
    cell_size: float | None = None,
    left_geom: str = "geometry",
    right_geom: str = "geometry",
    rsuffix: str = "_r",
    dist_col: str = "dist",
) -> DataFrame:
    """The ``k`` nearest right features for EVERY left feature — the
    PostGIS lateral ``ORDER BY geom <-> q LIMIT k`` idiom, distributed.

    Expanding-radius plan: a dwithin grid join at radius ``r`` is EXACT
    for any left row with ≥ k candidates inside ``r`` (its k nearest all
    lie within ``r`` by definition), so each round resolves the rows the
    current radius covers and only the remainder re-joins at ``growth×r``.
    The first radius is estimated from the right side's density so the
    expected candidate count per left row is ~2k; resolution is typically
    1-2 rounds, and each later round runs on a geometrically smaller
    left side. After ``max_rounds`` the stragglers (isolated features)
    take whatever neighbors their final radius found. Ties rank
    deterministically by (distance, right id).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lf = _ensure_env(left, left_geom)
    rf0 = _ensure_env(right, right_geom)

    env = list(_ENV)
    both = lf.select(env).unionByName(rf0.select(env))
    st, st_r = (
        both.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__xmin").alias("x0"),
            F.max("__xmax").alias("x1"),
            F.min("__ymin").alias("y0"),
            F.max("__ymax").alias("y1"),
        ).collect()[0],
        rf0.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("__xmax") - F.min("__xmin")).alias("sx"),
            (F.max("__ymax") - F.min("__ymin")).alias("sy"),
        ).collect()[0],
    )
    n_r = st_r["n"] or 0
    if n_r == 0:
        raise ValueError("right side is empty")
    # the diagonal of the JOINT extent reaches every right feature from
    # every left feature: at r_max a round is exhaustive by construction
    r_max = (
        math.hypot(
            (st["x1"] - st["x0"]) or 0.0, (st["y1"] - st["y0"]) or 0.0
        )
        + 1.0
    )
    if initial_radius is None:
        area = max((st_r["sx"] or 0.0) * (st_r["sy"] or 0.0), 1e-12)
        initial_radius = math.sqrt(2.0 * k * area / (math.pi * n_r))

    parts = []
    pending = lf
    r = min(float(initial_radius), r_max)
    right_cols = None
    for rnd in range(max_rounds):
        final = rnd == max_rounds - 1 or r >= r_max
        j = spatial_join(
            pending,
            rf0,
            "dwithin",
            distance=r,
            cell_size=cell_size,
            left_geom=left_geom,
            right_geom=right_geom,
            rsuffix=rsuffix,
            include_distance="__knnd",
        )
        if right_cols is None:
            right_cols = [c for c in j.columns if c not in set(pending.columns) | {"__knnd"}]
        # deterministic rank; right id columns break exact-distance ties
        order = [F.col("__knnd").asc()] + [F.col(c).asc() for c in right_cols]
        w = Window.partitionBy(left_id).orderBy(*order)
        ranked = j.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__ncand", F.count(F.lit(1)).over(Window.partitionBy(left_id))
        )
        cond = F.col("__rn") <= k
        if not final:
            cond = cond & (F.col("__ncand") >= k)
        parts.append(
            ranked.filter(cond).drop("__rn", "__ncand")
            .withColumnRenamed("__knnd", dist_col)
        )
        if final:
            break
        done_ids = (
            ranked.filter(F.col("__ncand") >= k)
            .select(left_id)
            .distinct()
        )
        pending = pending.join(done_ids, left_id, "left_anti")
        if pending.isEmpty():
            break
        r = min(r * growth, r_max)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def spatial_dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str,
    geom_col: str = "geometry",
    cell_size: float | None = None,
) -> DataFrame:
    """Distributed DBSCAN over geometry features.

    The classic single-node algorithm region-queries an R-tree per point;
    re-expressed for Spark as set operations:

    1. all neighbor pairs within ``eps`` via the grid-partitioned
       ``dwithin`` self-join (PBSM — no O(n²) pass),
    2. core points: ``|N_eps(p)| >= min_pts`` counting p itself,
    3. clusters: distributed label-propagation connected components over
       core-core edges (cluster id = min core id, deterministic),
    4. border points attach to the smallest cluster id among their core
       neighbors (deterministic tie-break); everything else is noise.

    Returns ``(id, cluster_id, role)`` with role in core/border/noise and
    NULL cluster for noise. Scale: one spatial join on the cell grid, one
    count aggregate, O(cluster diameter) label-propagation rounds — the
    densest uniform region drives the join fan-out, never the corpus
    size.
    """
    if eps <= 0 or not math.isfinite(eps):
        raise ValueError(f"eps must be finite and > 0, got {eps!r}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts!r}")
    from xcube_geodb_spark.functions.dedup import duplicate_clusters

    keep = [id_col, geom_col] + [c for c in _ENV if c in df.columns]
    feats = df.select(*keep)
    rid = f"{id_col}_r"
    # materialize the neighbor pairs once: four downstream branches
    # (counts, core edges, border attachment, final anti-join) would each
    # re-run the grid join + Arrow refinement otherwise
    pairs = (
        spatial_join(
            feats,
            feats,
            predicate="dwithin",
            distance=eps,
            cell_size=cell_size,
            left_geom=geom_col,
            right_geom=geom_col,
        )
        .select(id_col, rid)
        .localCheckpoint(eager=True)
    )

    nbr_counts = pairs.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    cores = nbr_counts.filter(F.col("__n") >= min_pts).select(id_col)

    core_edges = (
        pairs.filter(F.col(id_col) != F.col(rid))
        .join(cores, id_col)
        .join(cores.select(F.col(id_col).alias(rid)), rid)
        .filter(F.col(id_col) < F.col(rid))
        .select(F.col(id_col).alias("id_a"), F.col(rid).alias("id_b"))
    )
    linked = duplicate_clusters(core_edges).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    # isolated cores (no core neighbor) form their own singleton cluster
    core_clusters = (
        cores.join(linked, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
    )

    border = (
        pairs.join(cores.select(F.col(id_col).alias(rid)), rid)
        .join(cores, id_col, "left_anti")
        .join(
            core_clusters.select(
                F.col(id_col).alias(rid), F.col("cluster_id")
            ),
            rid,
        )
        .groupBy(id_col)
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    labeled = core_clusters.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    return (
        feats.select(id_col)
        .join(labeled, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
    )
