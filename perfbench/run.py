#!/usr/bin/env python3
"""The repository benchmark: serving reads, edits beside reads, and the
analytics suite, driven through the public API from one process.

    python3 perfbench/run.py --workload serve_edit --seed 1 --seconds 8 --trace 0

One closed loop with one client: each operation is issued after the
previous one returned and was checked. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` wraps the layers' public functions
(perfbench/tracer.py) and prints the per-layer metrics instead. The last
line of standard output is the JSON result; everything else goes to
standard error. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import inputs as data  # noqa: E402
import tracer as tracing  # noqa: E402

WORKLOADS = ("serve_read", "serve_edit", "analytics")
COLLECTION = "land_use"
LOADS = 3  # set-up loads per run; setup_s takes their median
# The timed phase runs round(seconds / CYCLE_S) whole cycles (at least one):
# a fixed amount of work per run, so every run holds the same op mix and
# the same writes. At --seconds 10 that is two serving cycles (about
# 17 s on a 4-core box) or one suite pass (about 9 s).
CYCLE_S = {"serve_read": 5.0, "serve_edit": 5.0, "analytics": 10.0}
PROBES = 2  # rounds of the write probe
# Host speed reference. The box is a shared host whose speed drifts over
# minutes, for whole runs at a time, so every timing is
# reported at the reference speed: scaled by REF_S / the reference loop's
# mean time over the run. The loop is pure Python, runs between ops (never
# inside an op's wall) and touches nothing of the program.
REF_ITERS = 100_000
REF_S = 0.01  # the loop's usual time on the 4-core 2.0 GHz development box

# (features, bulk-load chunks) of the serving collection, (features,
# chunks) of the analytics workload's write-probe collection, and the
# analytics scale (1.0 = 15k customers), per size
SIZES = {"full": (3_000, 3, 2_000, 1, 0.1), "tiny": (2_000, 2, 1_000, 1, 0.01)}
DRIVER_MEMORY = "2g"

E2E = (
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("read_p50_ms", "ms"),
    ("read_p90_ms", "ms"), ("write_p50_ms", "ms"), ("write_p75_ms", "ms"),
    ("pass_s", "s"), ("ingest_rows_per_s", "1/s"),
    ("stored_bytes_per_user_byte", "ratio"), ("peak_rss_mb", "MB"),
    ("ok_ratio", "ratio"),
)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def ref_loop() -> float:
    t = time.perf_counter()
    x = 0
    for i in range(REF_ITERS):
        x += i * i
    return time.perf_counter() - t


class Failures:
    """Counts checked operations and the ones that raised or returned a
    wrong result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(f"{what}: {detail}"[:300])
        return ok


# ---------------------------------------------------------------------------
# serving operations: call, then check against the model
# ---------------------------------------------------------------------------


def _rows_match(res: pd.DataFrame, exp: pd.DataFrame, ordered: bool) -> tuple[bool, str]:
    from xcube_geodb_spark.geometry.geom import envelope

    got_ids = res["id"].to_numpy(dtype=np.int64) if len(res) else np.array([], np.int64)
    exp_ids = exp["id"].to_numpy(dtype=np.int64)
    if not ordered:
        got_ids, exp_ids = np.sort(got_ids), np.sort(exp_ids)
    if len(got_ids) != len(exp_ids) or not np.array_equal(got_ids, exp_ids):
        return False, f"ids: got {len(got_ids)} rows, expected {len(exp_ids)}"
    if not len(res):
        return True, ""
    e = exp.set_index("id").loc[res["id"].to_numpy()]
    env = np.array([envelope(g) for g in res["geometry"]], dtype=np.float64)
    got_days = pd.to_datetime(res["d_od"]).to_numpy().astype("datetime64[D]")
    ok = (
        np.array_equal(res["raba_id"].to_numpy(dtype=float), e.raba_id.to_numpy())
        and np.array_equal(res["raba_pid"].to_numpy(dtype=float), e.raba_pid.to_numpy())
        and np.array_equal(got_days, e.d_od.to_numpy().astype("datetime64[D]"))
        and np.allclose(env, e[["x0", "y0", "x1", "y1"]].to_numpy(), rtol=0, atol=1e-12)
    )
    return ok, "" if ok else "row values differ"


def call_serving_op(client, kind: str, p: dict):
    """Issue one op through the client facade; this is all the op's wall
    clock covers."""
    c = COLLECTION
    if kind == "get_id":
        return client.get_collection(c, query=f"id=eq.{p['id']}")
    if kind == "get_filter":
        return client.get_collection(
            c, query=f"raba_id=eq.{p['raba_id']}&d_od=gte.{p['d_od']}&order=id&limit=100")
    if kind == "get_or":
        return client.get_collection(
            c, query=f"or=(raba_id.eq.{p['a']},raba_id.eq.{p['b']})&raba_pid=gt.{p['pid']}")
    if kind.startswith("bbox_"):
        return client.get_collection_by_bbox(c, p["box"], comparison_mode=kind[5:])
    if kind == "count_bbox":
        return client.count_collection_by_bbox(c, p["box"], comparison_mode="intersects")
    if kind == "pg_group":
        return client.get_collection_pg(
            c, select="raba_id, COUNT(*) AS ct", where=f"d_od >= '{p['d_od']}'",
            group="raba_id", order="raba_id")
    if kind == "knn":
        return client.get_collection_knn(c, p["point"], k=10)
    if kind == "extent":
        return client.get_collection_bbox(c)
    if kind == "insert":
        return client.insert_into_collection(c, p["frame"])
    if kind == "update_id":
        return client.update_collection(c, {"raba_id": p["raba_id"]}, f"id=eq.{p['id']}")
    if kind == "update_range":
        return client.update_collection(c, {"d_od": p["d_od"]}, f"id=gte.{p['lo']}&id=lt.{p['hi']}")
    if kind == "delete_id":
        return client.delete_from_collection(c, f"id=eq.{p['id']}")
    raise ValueError(kind)


def check_serving_op(kind: str, p: dict, res, model: data.LandUseModel) -> tuple[bool, str]:
    """Check a read against the model, or apply a write to the model (later
    reads and the end-of-run digest check writes)."""
    df = model.df
    if kind == "get_id":
        return _rows_match(res, df[df.id == p["id"]], True)
    if kind == "get_filter":
        exp = df[model.filter_mask([p["raba_id"]], d_min=p["d_od"])].sort_values("id")[:100]
        return _rows_match(res, exp, True)
    if kind == "get_or":
        return _rows_match(res, df[model.filter_mask([p["a"], p["b"]], pid_gt=p["pid"])], False)
    if kind.startswith("bbox_"):
        return _rows_match(res, df[model.bbox_mask(kind[5:], p["box"])].sort_values("id"), True)
    if kind == "count_bbox":
        exp = int(model.bbox_mask("intersects", p["box"]).sum())
        return res == exp, f"count {res} != {exp}"
    if kind == "pg_group":
        sel = df[(df.d_od >= np.datetime64(p["d_od"], "D")).to_numpy()]
        want = {float(k): int(v) for k, v in sel.groupby("raba_id").size().items()}
        got = dict(zip(res["raba_id"].astype(float), res["ct"].astype(int)))
        return got == want and list(res["raba_id"]) == sorted(got), f"{got} != {want}"
    if kind == "knn":
        exp = model.knn_distances(*p["point"], 10)
        got = np.sort(res["dist"].to_numpy(dtype=float))
        return (len(got) == len(exp) and np.allclose(got, exp, rtol=1e-9, atol=1e-12),
                "knn distances differ")
    if kind == "extent":
        exp = model.extent()
        return res is not None and np.allclose(res, exp, rtol=0, atol=1e-12), f"{res} != {exp}"
    if kind == "insert":
        model.insert(p["rows"])
    elif kind == "update_id":
        model.update((df.id == p["id"]).to_numpy(), "raba_id", p["raba_id"])
    elif kind == "update_range":
        model.update(model.ids_in(p["lo"], p["hi"]), "d_od", np.datetime64(p["d_od"], "D"))
    elif kind == "delete_id":
        model.delete((df.id == p["id"]).to_numpy())
    return True, ""


def write_user_bytes(kind: str, p: dict, before: pd.DataFrame) -> int:
    """Logical bytes of the rows a write inserts, changes or removes."""
    if kind == "insert":
        return data.user_bytes(p["rows"])
    if kind == "update_range":
        return data.user_bytes(before[(before.id >= p["lo"]) & (before.id < p["hi"])])
    return data.user_bytes(before[before.id == p["id"]])


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.fail = Failures()
        self.ops: list[dict] = []  # measured ops (timed phase + write probe)
        self.bulk: list[dict] = []
        self.passes: list[float] = []
        self.tracer = None
        self.n_op = 0
        self.ref: list[float] = []  # reference loop times

    def reference(self) -> float:
        """Time the reference loop once; returns the wall it took."""
        t = time.perf_counter()
        self.ref.append(ref_loop())
        return time.perf_counter() - t

    def host_factor(self) -> float:
        """REF_S / this run's reference time: multiply a time by it, divide
        a rate by it."""
        return REF_S / float(np.mean(self.ref))

    def timed(self, kind: str, cls: str, fn, phase: str, slot=None):
        """Run ``fn`` as one op; returns (op record, result or exception).
        ``slot`` names the op's place in its cycle: the repeats of a slot
        are the same kind of op at the same point of the workload."""
        op = {"id": f"op{self.n_op}", "kind": kind, "cls": cls, "phase": phase,
              "slot": f"{phase}.{slot}"}
        self.n_op += 1
        op["ref_s"] = self.reference()
        if self.tracer is not None and phase != "warm":
            self.tracer.begin_op(op["id"])
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # an op that raises counts as failed
            out = e
        op["wall"] = time.perf_counter() - t
        if self.tracer is not None and phase != "warm":
            self.tracer.end_op()
        return op, out

    def serving_op(self, client, planner, model, kind, phase, slot=None):
        cls = "write" if kind in data.WRITE_KINDS else "read"
        p = planner.draw(kind, model)
        if kind == "insert":
            p["frame"] = data.to_insert(p["rows"])
        if cls == "write":
            ub = write_user_bytes(kind, p, model.df)
        op, out = self.timed(kind, cls, lambda: call_serving_op(client, kind, p), phase, slot)
        if isinstance(out, Exception):
            self.fail.check(kind, False, f"{type(out).__name__}: {out}")
        else:
            ok, detail = check_serving_op(kind, p, out, model)
            self.fail.check(kind, bool(ok), detail)
        if cls == "write":
            op["user_bytes"] = ub
        if phase != "warm":
            self.ops.append(op)
        return op


def cycles(args) -> int:
    return max(1, round(args.seconds / CYCLE_S[args.workload]))


def boot_spark(work: str, cpus: int):
    from xcube_geodb_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size does not
            # depend on when the collector last ran. A tenth of the default
            # JIT thresholds: a run is too short for the JIT to settle at the
            # default ones, and the timed phase would catch it half-way, at
            # a different point in every run.
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_collection(run: Run, client, features: pd.DataFrame, chunks: int):
    """Bulk-load the collection LOADS times (the last load is kept and
    served; the earlier copies are dropped) and return the model, the op
    planner and the per-chunk wall times of each load."""
    parts = data.bulk_chunks(features, chunks)
    frames = [data.to_insert(p) for p in parts]
    walls = []  # per load, the wall of each chunk's insert
    for k in range(LOADS):
        name = COLLECTION if k == LOADS - 1 else f"{COLLECTION}_load{k}"
        client.create_collection(name, data.PROPERTIES, crs=4326)
        if run.tracer is not None:
            run.tracer.begin_op(f"setup{k}")
        chunk_walls = []
        for f in frames:
            run.reference()
            t = time.perf_counter()
            client.insert_into_collection(name, f)
            chunk_walls.append(time.perf_counter() - t)
        walls.append(chunk_walls)
        if run.tracer is not None:
            run.tracer.end_op()
            run.bulk.append({"id": f"setup{k}", "rows": len(features)})
        if name != COLLECTION:
            client.drop_collection(name)
    model = data.LandUseModel()
    for p in parts:
        model.insert(p)
    starts = list(np.cumsum([len(p) for p in parts]) + 1)
    planner = data.OpPlanner(run.args.seed, len(features), starts)
    return model, planner, walls


def collection_stats(client, model: data.LandUseModel) -> dict:
    """Bytes on disk per logical byte of the live rows, and live files."""
    cat = client.catalog
    stored = dir_bytes(cat._coll_dir(COLLECTION, client.database))
    with open(cat._meta_path(COLLECTION, client.database)) as f:
        files_live = len(json.load(f)["files"])
    return {"stored": stored / data.user_bytes(model.df), "files_live": files_live}


def serving(run: Run, spark, client, cycle, probe: bool, n_features: int, chunks: int):
    rng = np.random.default_rng(run.args.seed)
    features = data.make_features(rng, n_features)
    model, planner, load_walls = setup_collection(run, client, features, chunks)
    t_warm = time.perf_counter()
    # each op kind once, untimed: workers, JIT and caches warm
    warm = [run.serving_op(client, planner, model, kind, "warm") for kind in dict.fromkeys(cycle)]
    warm_s = time.perf_counter() - t_warm - sum(o["ref_s"] for o in warm)

    for _ in range(cycles(run.args)):
        # every cycle starts the box-size schedule over, so the repeats of
        # a bbox slot read boxes of the same size
        planner.restart()
        run.passes.append(sum(
            run.serving_op(client, planner, model, kind, "timed", i)["wall"]
            for i, kind in enumerate(cycle)))
    if probe:
        write_probe(run, client, planner, model)

    # end-of-run full-table digest against the model
    try:
        res = client.get_collection(COLLECTION)
        from xcube_geodb_spark.geometry.geom import envelope

        env = np.array([envelope(g) for g in res["geometry"]]).reshape(-1, 4)
        order = np.argsort(res["id"].to_numpy())
        got = data.table_digest(
            res["id"].to_numpy()[order], res["raba_id"].to_numpy()[order],
            res["raba_pid"].to_numpy()[order],
            pd.to_datetime(res["d_od"]).to_numpy()[order],
            *(env[order, i] for i in range(4)))
        want = model.digest()
        run.fail.check("digest", got == want, f"{got} != {want}")
    except Exception as e:
        run.fail.check("digest", False, f"{type(e).__name__}: {e}")
    return {"load_walls": load_walls, "warm_s": warm_s, "rows": n_features,
            **collection_stats(client, model)}


def write_probe(run: Run, client, planner, model) -> None:
    """PROBES rounds of the write probe, for the write metrics of a
    workload whose timed phase has no writes of its own."""
    for _ in range(PROBES):
        for i, kind in enumerate(data.PROBE_CYCLE):
            run.serving_op(client, planner, model, kind, "probe", i)


def suite_result_ok(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """The correctness gate's comparison (tools/check_correctness.py): row
    count, column names and an order-insensitive value hash."""
    from tools.check_correctness import value_hash

    return (len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
            and value_hash(got) == value_hash(want))


def analytics(run: Run, spark, client, n_features: int, chunks: int, scale: float):
    import duckdb

    from xcube_geodb_spark.suite import ORACLES, QUERIES

    sf = os.path.join(run.work, "sf")
    os.makedirs(sf)
    counts = data.write_analytics_tables(sf, run.args.seed, scale)
    con = duckdb.connect()
    con.execute("PRAGMA threads=1")
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    # untimed first pass: its results are hashed against the DuckDB oracles
    t_warm = time.perf_counter()
    ref_s = 0.0
    for q in tracing.SUITE_QUERIES:
        ref_s += run.reference()
        try:
            got = QUERIES[q](spark, sf).toPandas()
            want = con.execute(ORACLES[q]).fetchdf()
            run.fail.check(q, suite_result_ok(got, want),
                           f"{len(got)} vs {len(want)} rows or value hash differs")
        except Exception as e:
            run.fail.check(q, False, f"{type(e).__name__}: {e}")
    warm_s = time.perf_counter() - t_warm - ref_s
    con.close()

    # the write-probe collection is loaded after the warm pass, which has
    # already paid most of the JVM's cold start
    rng = np.random.default_rng(run.args.seed)
    features = data.make_features(rng, n_features)
    model, planner, load_walls = setup_collection(run, client, features, chunks)

    def consume(q):
        with run.tracer.span(f"suite.{q}", "suite") if run.tracer else contextlib.nullcontext():
            QUERIES[q](spark, sf).write.format("noop").mode("overwrite").save()

    for _ in range(cycles(run.args)):
        walls = []
        for q in tracing.SUITE_QUERIES:
            op, out = run.timed(q, "read", lambda: consume(q), "timed", q)
            run.fail.check(q, not isinstance(out, Exception), repr(out))
            run.ops.append(op)
            walls.append(op["wall"])
        run.passes.append(sum(walls))
    write_probe(run, client, planner, model)
    return {"load_walls": load_walls, "warm_s": warm_s, "rows": n_features,
            **collection_stats(client, model)}


def fastest(ops: list[dict]) -> dict[str, dict]:
    """Per slot, its fastest repeat: the figure that interference from
    other work on the shared host moves least."""
    best: dict[str, dict] = {}
    for o in ops:
        if o["slot"] not in best or o["wall"] < best[o["slot"]]["wall"]:
            best[o["slot"]] = o
    return best


def e2e_metrics(run: Run, info: dict, boot_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics; every time and rate at the reference host
    speed (see REF_S)."""
    best = fastest(run.ops)
    timed = [o for o in best.values() if o["phase"] == "timed"]
    reads = [1e3 * o["wall"] for o in timed if o["cls"] == "read"]
    writes = [1e3 * o["wall"] for o in best.values() if o["cls"] == "write"]
    cycle_s = sum(o["wall"] for o in timed)
    loads = [sum(w) for w in info["load_walls"]]
    # the first load also pays the JVM's cold start; the ingest rate is
    # the steady one, each chunk at its fastest later load
    ingest_s = sum(np.min(info["load_walls"][1:], axis=0))
    pct = lambda v, q: float(np.percentile(v, q)) if v else 0.0  # noqa: E731
    f = run.host_factor()
    return {
        "setup_s": f * (boot_s + float(np.median(loads)) + info["warm_s"]),
        "ops_per_s": len(timed) / cycle_s / f,
        "read_p50_ms": f * pct(reads, 50),
        "read_p90_ms": f * pct(reads, 90),
        "write_p50_ms": f * pct(writes, 50),
        "write_p75_ms": f * pct(writes, 75),
        "pass_s": f * cycle_s,
        "ingest_rows_per_s": info["rows"] / ingest_s / f,
        "stored_bytes_per_user_byte": info["stored"],
        "peak_rss_mb": rss_mb,
        "ok_ratio": (run.fail.attempted - run.fail.failed) / max(1, run.fail.attempted),
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full",
                    help="'tiny' is the smoke-test size")
    return ap.parse_args(argv)


def cpu_count() -> tuple[int, int]:
    """(nproc, cpus to use): SPARK_GRAFT_CPUS capped at nproc; a malformed
    or non-positive value falls back to nproc."""
    nproc = len(os.sched_getaffinity(0))
    try:
        want = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    except ValueError:
        want = nproc
    return nproc, min(nproc, want) if want > 0 else nproc


def main(argv=None) -> int:
    args = parse_args(argv)
    t_boot = time.perf_counter()
    try:
        from xcube_geodb_spark.client import GeoDBSparkClient
    except ImportError as e:
        log(f"perfbench: cannot import the library from {REPO}: {e}")
        return 2
    nproc, cpus = cpu_count()
    base = os.path.join(REPO, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work)
    # every temp file, warehouse and Spark scratch dir lives under `work`
    os.environ.update({
        "TMPDIR": work, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # both JVMs spark-submit starts: no hsperfdata files in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    })
    import tempfile

    tempfile.tempdir = work
    n_features, chunks, probe_features, probe_chunks, scale = SIZES[args.size]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus, "loadavg_before": loadavg(),
    }
    run = Run(args, work)
    spark = None
    try:
        spark = boot_spark(work, cpus)
        client = GeoDBSparkClient(spark, warehouse=os.path.join(work, "warehouse"),
                                  user="bench")
        boot_s = time.perf_counter() - t_boot
        if args.trace:
            run.tracer = tracing.Tracer(spark)
            run.tracer.install()
        if args.workload == "analytics":
            info = analytics(run, spark, client, probe_features, probe_chunks, scale)
        else:
            serve_read = args.workload == "serve_read"
            info = serving(run, spark, client,
                           data.READ_CYCLE if serve_read else data.EDIT_CYCLE,
                           serve_read, n_features, chunks)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        e2e = e2e_metrics(run, info, boot_s, rss)
        if args.trace:
            run.tracer.uninstall()
            metrics = tracing.layer_metrics(run.tracer, run.ops, run.bulk, info["files_live"])
            metrics.update({
                "trace.ops_per_s": e2e["ops_per_s"], "trace.read_p50_ms": e2e["read_p50_ms"],
                "trace.write_p50_ms": e2e["write_p50_ms"], "trace.pass_s": e2e["pass_s"],
            })
            run.tracer.dump(os.path.join(
                base, f"spans_{args.workload}_{args.seed}.jsonl"))
            units = dict(tracing.PER_LAYER)
        else:
            metrics, units = e2e, dict(E2E)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    walls: dict[str, list] = {}
    for o in run.ops:
        walls.setdefault(f"{o['phase']}.{o['kind']}", []).append(1e3 * o["wall"])
    record.update({
        "loadavg_after": loadavg(), "pass_walls_s": run.passes,
        "host_factor": run.host_factor() if run.ref else None, "ref_s": run.ref,
        "best_ms": {k: 1e3 * o["wall"] for k, o in fastest(run.ops).items()},
        "samples": {k: len(v) for k, v in walls.items()},
        "p50_ms": {k: float(np.median(v)) for k, v in walls.items()},
        "load_walls_s": info["load_walls"], "warm_s": info["warm_s"],
        "attempted": run.fail.attempted, "failed": run.fail.failed,
        "failures": run.fail.reasons[:20], "metrics": metrics,
    })
    with open(os.path.join(base, f"run_{args.workload}_{args.seed}_{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(json.dumps({k: v for k, v in record.items() if k != "metrics"}))
    print(json.dumps({
        "correct": run.fail.failed == 0,
        "attempted": run.fail.attempted,
        "failed": run.fail.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
