"""Seeded inputs and closed-form oracles for the benchmark.

Everything here is a pure function of the seed: the land-use collection,
the per-workload operation plans and the analytics tables. The serving
oracle is :class:`LandUseModel`, a numpy copy of the collection that
receives the same writes as the engine and answers every read from the
generator's parameters (squares are axis-aligned, so every bbox mode, kNN
distance and group-by count has an exact closed form).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

RABA_IDS = (1100.0, 1300.0, 1410.0, 1600.0, 7000.0)
RABA_WEIGHTS = (0.35, 0.25, 0.2, 0.15, 0.05)
DOMAIN = (0.0, 30.0, 40.0, 50.0)  # lon/lat box the features cover
PROPERTIES = {"raba_pid": "float", "raba_id": "float", "d_od": "date"}
DAY0 = np.datetime64("2019-01-01", "D")
EPOCH = np.datetime64("1970-01-01", "D")
_SQ_HEADER = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00"
_PT_HEADER = b"\x01\x01\x00\x00\x00"


def _wkb(x0, y0, x1, y1, is_point) -> list[bytes]:
    out = []
    for a, b, c, d, p in zip(x0, y0, x1, y1, is_point):
        if p:
            out.append(_PT_HEADER + np.array([a, b], dtype=np.float64).tobytes())
        else:
            ring = np.array([a, b, c, b, c, d, a, d, a, b], dtype=np.float64)
            out.append(_SQ_HEADER + ring.tobytes())
    return out


def make_features(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` land-use features: axis-aligned squares (half-side 0.005 to
    0.05 degrees) plus a 10% share of points, with the FIXTURES §1
    properties. Columns ``x0..y1``/``is_point`` are the oracle's copy of
    the geometry; :func:`to_insert` strips them."""
    cx = rng.uniform(DOMAIN[0], DOMAIN[2], n)
    cy = rng.uniform(DOMAIN[1], DOMAIN[3], n)
    is_point = rng.random(n) < 0.1
    h = np.where(is_point, 0.0, rng.uniform(0.005, 0.05, n))
    df = pd.DataFrame(
        {
            "x0": cx - h,
            "y0": cy - h,
            "x1": cx + h,
            "y1": cy + h,
            "is_point": is_point,
            "raba_pid": 5_900_000.0 + rng.integers(0, 200_000, n),
            "raba_id": rng.choice(RABA_IDS, n, p=RABA_WEIGHTS),
            "d_od": DAY0 + rng.integers(0, 365, n).astype("timedelta64[D]"),
        }
    )
    return df


def to_insert(df: pd.DataFrame) -> pd.DataFrame:
    """The user-facing insert frame: WKB geometry plus the properties."""
    return pd.DataFrame(
        {
            "geometry": _wkb(df.x0, df.y0, df.x1, df.y1, df.is_point),
            "raba_pid": df.raba_pid.to_numpy(),
            "raba_id": df.raba_id.to_numpy(),
            "d_od": pd.to_datetime(df.d_od).dt.date,
        }
    )


def bulk_chunks(df: pd.DataFrame, chunks: int) -> list[pd.DataFrame]:
    """Split the bulk load into longitude bands, as a user loading a region
    tile by tile would: each band becomes one data file, so files are
    spatially disjoint and id ranges map to files."""
    band = np.minimum(
        ((df.x0 + df.x1) / 2 - DOMAIN[0]) / (DOMAIN[2] - DOMAIN[0]) * chunks,
        chunks - 1,
    ).astype(int)
    return [df[band == b].reset_index(drop=True) for b in range(chunks)]


def user_bytes(df: pd.DataFrame) -> int:
    """Logical bytes of rows: WKB length + 8 per fixed-width column (id,
    raba_pid, raba_id, d_od)."""
    return int(np.where(df.is_point, 21, 93).sum()) + 32 * len(df)


class LandUseModel:
    """In-memory copy of the collection; ids are assigned exactly as the
    engine does (dense from ``max_id + 1`` in insert order)."""

    def __init__(self) -> None:
        self.df = pd.DataFrame()
        self.max_id = 0

    def insert(self, rows: pd.DataFrame) -> None:
        rows = rows.copy()
        rows.insert(0, "id", np.arange(self.max_id + 1, self.max_id + 1 + len(rows)))
        self.max_id += len(rows)
        self.df = pd.concat([self.df, rows], ignore_index=True)

    def update(self, mask: np.ndarray, column: str, value) -> int:
        self.df.loc[mask, column] = value
        return int(mask.sum())

    def delete(self, mask: np.ndarray) -> int:
        self.df = self.df[~mask].reset_index(drop=True)
        return int(mask.sum())

    def ids_in(self, lo: int, hi: int) -> np.ndarray:
        return ((self.df.id >= lo) & (self.df.id < hi)).to_numpy()

    # -- read oracles (the engine's kernel semantics, geometry/udfs.py) --

    def bbox_mask(self, mode: str, box) -> np.ndarray:
        d = self.df
        xmin, ymin, xmax, ymax = box
        eps = 1e-9 * max(abs(xmin), abs(ymin), abs(xmax), abs(ymax), 1.0)
        pt = d.is_point.to_numpy()
        x0, y0, x1, y1 = (d[c].to_numpy() for c in ("x0", "y0", "x1", "y1"))
        ix = np.minimum(xmax, x1) - np.maximum(xmin, x0)
        iy = np.minimum(ymax, y1) - np.maximum(ymin, y0)
        if mode == "intersects":
            sq = (ix >= -eps) & (iy >= -eps)
            pm = (x0 >= xmin) & (x0 <= xmax) & (y0 >= ymin) & (y0 <= ymax)
        elif mode == "contains":
            sq = (
                (x0 >= xmin - eps) & (x1 <= xmax + eps)
                & (y0 >= ymin - eps) & (y1 <= ymax + eps)
                & (ix > eps) & (iy > eps)
            )
            pm = (
                (x0 > xmin + eps) & (x0 < xmax - eps)
                & (y0 > ymin + eps) & (y0 < ymax - eps)
            )
        elif mode == "within":
            sq = (
                (x0 <= xmin + eps) & (x1 >= xmax - eps)
                & (y0 <= ymin + eps) & (y1 >= ymax - eps)
            )
            pm = np.zeros(len(d), dtype=bool)
        else:
            raise ValueError(mode)
        return np.where(pt, pm, sq)

    def knn_distances(self, x: float, y: float, k: int) -> np.ndarray:
        d = self.df
        dx = np.maximum.reduce([d.x0 - x, x - d.x1, np.zeros(len(d))])
        dy = np.maximum.reduce([d.y0 - y, y - d.y1, np.zeros(len(d))])
        return np.sort(np.sqrt(dx * dx + dy * dy))[:k]

    def filter_mask(self, raba_ids, d_min=None, pid_gt=None) -> np.ndarray:
        d = self.df
        m = d.raba_id.isin(raba_ids).to_numpy()
        if d_min is not None:
            m &= (d.d_od >= np.datetime64(d_min, "D")).to_numpy()
        if pid_gt is not None:
            m &= (d.raba_pid > pid_gt).to_numpy()
        return m

    def extent(self):
        d = self.df
        return (d.y0.min(), d.x0.min(), d.y1.max(), d.x1.max())

    def digest(self) -> str:
        d = self.df.sort_values("id")
        return table_digest(
            d.id, d.raba_id, d.raba_pid, d.d_od, d.x0, d.y0, d.x1, d.y1
        )


def table_digest(ids, raba_id, raba_pid, d_od, x0, y0, x1, y1) -> str:
    days = (np.asarray(d_od, dtype="datetime64[D]") - EPOCH).astype(np.int64)
    cols = [np.asarray(ids, dtype=np.int64), days]
    cols += [np.round(np.asarray(v, dtype=np.float64), 9) for v in
             (raba_id, raba_pid, x0, y0, x1, y1)]
    h = hashlib.sha256()
    for c in cols:
        h.update(np.ascontiguousarray(c).tobytes())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# operation plans
# ---------------------------------------------------------------------------

READ_CYCLE = (
    "get_id", "bbox_intersects", "get_filter", "get_id", "bbox_contains",
    "count_bbox", "get_or", "pg_group", "get_id", "bbox_within", "knn",
    "extent",
)
EDIT_CYCLE = (
    "get_id", "insert", "bbox_intersects", "update_id", "get_filter",
    "delete_id", "bbox_contains", "insert", "count_bbox", "update_range",
    "knn", "pg_group", "extent",
)
PROBE_CYCLE = ("insert", "update_id", "delete_id", "update_range", "insert",
               "update_id")
WRITE_KINDS = {"insert", "update_id", "update_range", "delete_id"}


def _zipf_index(rng: np.random.Generator, n: int, a: float = 1.3) -> int:
    return int(min(rng.zipf(a), n) - 1)


class OpPlanner:
    """Draws concrete parameters for each op kind from the seed. Ids and
    hot spots are Zipf-skewed over a seeded permutation; bbox sizes follow
    a fixed 1:9 schedule (one 10 degree box, then nine boxes of at most 1
    degree; :meth:`restart` starts it over), not a seeded one, so every
    run holds the same mix."""

    def __init__(self, seed: int, n_features: int, file_starts, hot_spots: int = 40):
        """``file_starts``: first ids of the bulk-load files after the first,
        and of the first inserted batch (``n_features + 1``)."""
        self.rng = np.random.default_rng(seed + 7919)
        # a rewrite merges the files it touches, so each boundary is used
        # once, in a fixed order, before any repeats: every run rewrites the
        # same files
        self.file_starts = sorted(file_starts)
        self.n_range = 0
        self.id_perm = self.rng.permutation(np.arange(1, n_features + 1))
        self.hot = np.column_stack(
            [
                self.rng.uniform(DOMAIN[0] + 5, DOMAIN[2] - 5, hot_spots),
                self.rng.uniform(DOMAIN[1] + 5, DOMAIN[3] - 5, hot_spots),
            ]
        )
        self.n_box = 0

    def restart(self) -> None:
        self.n_box = 0

    def _hot_point(self):
        cx, cy = self.hot[_zipf_index(self.rng, len(self.hot))]
        return cx + self.rng.normal(0, 0.3), cy + self.rng.normal(0, 0.3)

    def _box(self):
        x, y = self._hot_point()
        big = self.n_box % 10 == 0
        self.n_box += 1
        side = 10.0 if big else self.rng.uniform(0.2, 1.0)
        return (x - side / 2, y - side / 2, x + side / 2, y + side / 2)

    def _id(self):
        return int(self.id_perm[_zipf_index(self.rng, len(self.id_perm))])

    def _date(self):
        return str(DAY0 + int(self.rng.integers(0, 330)))

    def draw(self, kind: str, model: LandUseModel) -> dict:
        r = self.rng
        if kind == "get_id" or kind in ("update_id", "delete_id"):
            p = {"id": self._id()}
            if kind == "update_id":
                p["raba_id"] = float(r.choice(RABA_IDS))
            return p
        if kind == "get_filter":
            return {"raba_id": float(r.choice(RABA_IDS)), "d_od": self._date()}
        if kind == "get_or":
            a, b = r.choice(RABA_IDS, 2, replace=False)
            return {"a": float(a), "b": float(b),
                    "pid": float(5_900_000 + r.integers(190_000, 198_000))}
        if kind in ("bbox_intersects", "bbox_contains", "count_bbox"):
            return {"box": self._box()}
        if kind == "bbox_within":
            # a small box inside a live square near a hot spot, so the
            # within result is non-empty
            x, y = self._hot_point()
            d = model.df[~model.df.is_point]
            i = int(np.argmin((d.x0 + d.x1 - 2 * x) ** 2 + (d.y0 + d.y1 - 2 * y) ** 2))
            row = d.iloc[i]
            cx, cy = (row.x0 + row.x1) / 2, (row.y0 + row.y1) / 2
            q = (row.x1 - row.x0) * 0.15
            return {"box": (cx - q, cy - q, cx + q, cy + q)}
        if kind == "pg_group":
            return {"d_od": self._date()}
        if kind == "knn":
            return {"point": self._hot_point()}
        if kind == "extent":
            return {}
        if kind == "insert":
            return {"rows": make_features(r, 100)}
        if kind == "update_range":
            # an id range straddling a file boundary, so the rewrite
            # touches two files
            b = int(self.file_starts[self.n_range % len(self.file_starts)])
            self.n_range += 1
            return {"lo": b - 40, "hi": b + 40, "d_od": self._date()}
        raise ValueError(kind)


# ---------------------------------------------------------------------------
# analytics tables (the suite's sf-directory layout)
# ---------------------------------------------------------------------------

_WORDS = (
    "the a data table row column value key join group sort merge filter "
    "scan hash order part line customer query spark stream batch window "
    "agg vector fast slow big small"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def write_analytics_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the suite's parquet tables (the TPC-H-ish star plus events,
    documents and embeddings) for ``scale`` (1.0 = 15k customers).
    Returns the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 104729)
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_evt = max(1_000, int(100_000 * scale))
    n_user = max(15, n_cust // 10)
    n_doc = max(200, int(5_000 * scale))
    n_vec = max(200, int(2_000 * scale))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def days(lo: str, hi: str, n: int):
        d0 = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - d0) // np.timedelta64(1, "D")
        return (d0 + rng.integers(0, span, n).astype("timedelta64[D]")).astype("datetime64[us]")

    tables = {
        "region": {
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        },
        "nation": {
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
            "c_mktsegment": (rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"], n_cust), s),
        },
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
        },
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": (np.round(rng.uniform(1_000, 450_000, n_ord), 2), f64),
            "o_orderdate": (days("1995-01-01", "2001-08-02", n_ord), ts),
            "o_orderpriority": (rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
        },
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
            "l_partkey": (rng.integers(0, max(200, n_cust * 4 // 3), n_line), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": (rng.integers(1, 8, n_line), i32),
            "l_quantity": (rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": (np.round(rng.uniform(900, 105_000, n_line), 2), f64),
            "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": (rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": (rng.choice(["F", "O"], n_line), s),
            "l_shipdate": (days("1995-01-02", "2001-11-05", n_line), ts),
        },
        "events": {
            "event_id": (np.arange(n_evt), i64),
            "ts": (np.sort(np.datetime64("2024-01-01", "us")
                           + rng.integers(0, 30 * 86_400_000_000, n_evt)
                           .astype("timedelta64[us]")), ts),
            "user_id": (rng.integers(0, n_user, n_evt), i64),
            "event_type": (rng.choice(["view", "click", "purchase", "signup",
                                       "error"], n_evt), s),
            "value": (np.round(rng.uniform(0, 200, n_evt), 2), f64),
            "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s),
        },
    }
    texts = [
        " ".join(rng.choice(_WORDS, int(rng.integers(8, 90))))
        for _ in range(n_doc)
    ]
    tables["documents"] = {
        "doc_id": (np.arange(n_doc), i64),
        "text": (texts, s),
        "lang": (rng.choice(_LANGS, n_doc), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": (np.array([len(t) for t in texts]), i64),
    }
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    emb = centers[label] + rng.normal(0, 0.6, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": (np.arange(n_vec), i64),
        "embedding": (list(emb), pa.list_(pa.float32())),
        "label": (label, i32),
    }
    counts = {}
    for name, cols in tables.items():
        arrays = {c: pa.array(v, type=t) for c, (v, t) in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(next(iter(arrays.values())))
    return counts

