"""Outside-in tracing for the benchmark's traced run.

The library is not modified: :class:`Tracer` replaces the layers' public
functions with timing wrappers at run time and restores them on
:meth:`Tracer.uninstall`. A name bound at import time is wrapped where
it is looked up (``operators.scan.apply_postgrest_query``, not only
``filters.apply_postgrest_query``).

Each span records name, layer, start, end, parent span and op id; spans
stay in memory and are written out at the end of the run. A span's self
time is its duration minus the durations of its direct children, so the
self times of an op's spans add up to its root span's wall time.

Spark counters are read from outside as well, after each op (planning
phases from ``queryExecution().tracker()``) or once at the end of the run
(jobs, tasks and stage run time from the status tracker and status store,
Python worker time from the SQL status store), keyed by a job group per
op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time

import numpy as np
from py4j.protocol import Py4JError

CLIENT_OPS = (
    "get_collection", "get_collection_by_bbox", "count_collection_by_bbox",
    "get_collection_pg", "get_collection_knn", "get_collection_bbox",
    "insert_into_collection", "update_collection", "delete_from_collection",
)
SUITE_QUERIES = (
    "pg_groupby_q1", "join_q5_asia", "window_top_order_per_customer",
    "events_sessionization", "geo_bbox_intersects_squares",
    "geo_spatial_join_points", "dedup_minhash_pairs", "dedup_semantic_kept",
    "sim_cosine_topk", "text_profile",
)
_SELF_LAYERS = ("client", "catalog", "scan", "spatial", "dml", "spark", "suite")

# (name, unit) of every per-layer metric, in output order
PER_LAYER = (
    [(f"client.{op}.p50_ms", "ms") for op in CLIENT_OPS]
    + [("client.decode_ms_per_op", "ms")]
    + [(f"{layer}.self_ms_per_op", "ms") for layer in _SELF_LAYERS]
    + [
        ("admin.event_log_ms_per_op", "ms"),
        ("catalog.meta_ms", "ms"),
        ("catalog.meta_calls", "count"),
        ("catalog.meta_cache_hit_ratio", "ratio"),
        ("catalog.load_df_ms", "ms"),
        ("catalog.load_df_calls", "count"),
        ("catalog.load_df_cache_hit_ratio", "ratio"),
        ("catalog.commit_ms", "ms"),
        ("catalog.commits", "count"),
        ("catalog.files_live", "count"),
        ("catalog.bytes_written_per_user_byte", "ratio"),
        ("filters.apply_ms_per_op", "ms"),
        ("pruning.split_ms", "ms"),
        ("pruning.files_considered", "count"),
        ("pruning.files_kept", "count"),
        ("pruning.keep_ratio", "ratio"),
        ("scan.pg_build_ms", "ms"),
        ("spatial.plan_build_ms", "ms"),
        ("dml.insert_ms", "ms"),
        ("dml.update_ms", "ms"),
        ("dml.delete_ms", "ms"),
        ("dml.files_rewritten_per_write", "count"),
        ("dml.bulk_rows_per_s", "1/s"),
    ]
    + [(f"suite.{q}.ms", "ms") for q in SUITE_QUERIES]
    + [
        ("spark.jobs_per_op", "count"),
        ("spark.tasks_per_op", "count"),
        ("spark.failed_tasks", "count"),
        ("spark.plan_ms_per_op", "ms"),
        ("spark.executor_run_ms_per_op", "ms"),
        ("spark.python_worker_ms_per_op", "ms"),
        ("spark.gap_ms_per_op", "ms"),
        ("trace.op_wall_ms_per_op", "ms"),
        ("trace.unaccounted_ms_per_op", "ms"),
        ("trace.spans_per_op", "count"),
        ("trace.ops_per_s", "1/s"),
        ("trace.read_p50_ms", "ms"),
        ("trace.write_p50_ms", "ms"),
        ("trace.pass_s", "s"),
    ]
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "op", "attrs")

    def __init__(self, name, layer, start, parent, op):
        self.name, self.layer, self.start = name, layer, start
        self.end = None
        self.parent, self.op = parent, op
        self.attrs: dict = {}


def _dir_state(path: str) -> dict:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            out[os.path.join(root, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def _live_files(meta_path: str) -> set:
    with open(meta_path) as f:
        return set(json.load(f).get("files", []))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.op_dfs: list = []
        self.plan_ms: dict[str, float] = {}
        self._patches: list = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, layer: str) -> Span:
        sp = Span(name, layer, time.perf_counter(),
                  self.stack[-1] if self.stack else None, self.op)
        self.stack.append(len(self.spans))
        self.spans.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self.stack.pop()

    def begin_op(self, op_id: str) -> None:
        self.op = op_id
        self.op_dfs = []
        self.sc.setJobGroup(op_id, op_id, False)

    def end_op(self) -> None:
        """Planning phases of the op's actions, read after the op's wall:
        forcing ``executedPlan`` is a no-op for a collected DataFrame and
        plans a written or counted one once more, outside the op."""
        self.sc._jsc.clearJobGroup()
        total = 0.0
        seen = set()
        for df in self.op_dfs:
            if id(df) in seen:
                continue
            seen.add(id(df))
            try:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for k in ("analysis", "optimization", "planning"):
                    o = phases.get(k)
                    if o.isDefined():
                        total += o.get().durationMs()
            except Py4JError:  # a plan that cannot be re-planned: no phases
                continue
        self.plan_ms[self.op] = total
        self.op = None
        self.op_dfs = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.begin(name, layer)
        try:
            yield sp
        finally:
            self.end(sp)

    # -- wrapping ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, before=None, after=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.op is None:
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            sp = tracer.begin(name, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(sp)
            if after:
                after(sp, state, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        import inspect

        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import xcube_geodb_spark.admin as admin
        import xcube_geodb_spark.catalog as catalog
        import xcube_geodb_spark.client as client
        import xcube_geodb_spark.filters as filters
        import xcube_geodb_spark.operators.dml as dml
        import xcube_geodb_spark.operators.pruning as pruning
        import xcube_geodb_spark.operators.scan as scan
        import xcube_geodb_spark.operators.spatial as spatial
        import xcube_geodb_spark.suite.core as suite_core

        Cat = catalog.GeoDBCatalog
        for op in CLIENT_OPS + ("_collect_geo",):
            self.wrap(client.GeoDBSparkClient, op, f"client.{op}", "client")
        self.wrap(admin.EventLog, "log", "admin.event_log", "admin")

        def binder(fn):
            sig = inspect.signature(fn)

            def bind(args, kwargs):
                b = sig.bind(*args, **kwargs)
                b.apply_defaults()
                return b.arguments

            return bind

        meta_args = binder(Cat.meta)

        def meta_before(args, kwargs):
            a = meta_args(args, kwargs)
            p = a["self"]._meta_path(a["collection"], a["database"])
            return p, a["self"]._meta_parse_cache.get(p)

        def meta_after(sp, state, args, kwargs, result):
            p, prev = state
            sp.attrs["hit"] = prev is not None and args[0]._meta_parse_cache.get(p) is prev

        load_args = binder(Cat.load_df)

        def load_before(args, kwargs):
            a = load_args(args, kwargs)
            key = (a["collection"], a["database"], a["include_system"], a["version"])
            return key, args[0]._load_df_cache.get(key)

        def load_after(sp, state, args, kwargs, result):
            key, prev = state
            sp.attrs["hit"] = prev is not None and args[0]._load_df_cache.get(key) is prev

        commit_args = binder(Cat.commit_version)

        def commit_before(args, kwargs):
            a = commit_args(args, kwargs)
            cat, coll, db = a["self"], a["collection"], a["database"]
            d = cat._coll_dir(coll, db)
            return d, _dir_state(d), _live_files(cat._meta_path(coll, db)), a

        def commit_after(sp, state, args, kwargs, result):
            d, before_state, live, a = state
            after_state = _dir_state(d)
            sp.attrs["bytes"] = sum(
                v[2] for k, v in after_state.items() if before_state.get(k) != v
            )
            keep = a["keep_files"]
            sp.attrs["rewritten"] = 0 if keep is None else len(live - set(keep))

        def split_after(sp, state, args, kwargs, result):
            sp.attrs["considered"] = len(args[0] if args else kwargs["paths"])
            sp.attrs["kept"] = len(result[0])

        self.wrap(Cat, "meta", "catalog.meta", "catalog", meta_before, meta_after)
        self.wrap(Cat, "load_df", "catalog.load_df", "catalog", load_before, load_after)
        self.wrap(Cat, "load_files", "catalog.load_files", "catalog")
        self.wrap(Cat, "commit_version", "catalog.commit_version", "catalog",
                  commit_before, commit_after)
        self.wrap(scan, "apply_postgrest_query", "filters.apply_postgrest_query", "filters")
        self.wrap(filters, "parse_postgrest_query", "filters.parse_postgrest_query", "filters")
        self.wrap(dml, "parse_postgrest_query", "filters.parse_postgrest_query", "filters")
        self.wrap(pruning, "split_files_by_constraints", "pruning.split_files",
                  "pruning", after=split_after)
        for fn in ("get_collection", "get_collection_pg"):
            self.wrap(scan, fn, f"scan.{fn}", "scan")
        self.wrap(scan, "build_pg_sql", "scan.build_pg_sql", "scan")
        self.wrap(suite_core, "build_pg_sql", "scan.build_pg_sql", "scan")
        for fn in ("get_collection_by_bbox", "count_collection_by_bbox", "get_knn",
                   "get_collection_bbox"):
            self.wrap(spatial, fn, f"spatial.{fn}", "spatial")
        for fn in ("insert_into_collection", "update_collection", "delete_from_collection"):
            self.wrap(dml, fn, f"dml.{fn}", "dml")

        def keep_df(sp, state, args, kwargs, result):
            self.op_dfs.append(args[0])

        def keep_writer_df(sp, state, args, kwargs, result):
            self.op_dfs.append(args[0]._df)

        for fn in ("toPandas", "collect", "count"):
            self.wrap(DataFrame, fn, f"spark.{fn}", "spark", after=keep_df)
        for fn in ("save", "parquet"):
            self.wrap(DataFrameWriter, fn, f"spark.write.{fn}", "spark",
                      after=keep_writer_df)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # -- Spark counters (read once, at the end of the run) --------------------

    def spark_counters(self, op_ids) -> dict[str, dict]:
        sc = self.sc
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        run_ms: dict[int, float] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            run_ms[s.stageId()] = run_ms.get(s.stageId(), 0) + s.executorRunTime()
        py_ms_by_job = self._python_worker_ms()
        out = {}
        for op in op_ids:
            c = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "job_ms": 0.0,
                 "exec_ms": 0.0, "python_ms": 0.0, "plan_ms": self.plan_ms.get(op, 0.0)}
            seen_exec = set()
            for j in st.getJobIdsForGroup(op):
                jd = store.job(j)
                c["jobs"] += 1
                c["tasks"] += jd.numTasks()
                c["failed_tasks"] += jd.numFailedTasks()
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    c["job_ms"] += done.get().getTime() - sub.get().getTime()
                info = st.getJobInfo(j)
                for sid in (list(info.stageIds) if info else []):
                    c["exec_ms"] += run_ms.get(sid, 0)
                if j in py_ms_by_job:
                    ex, ms = py_ms_by_job[j]
                    if ex not in seen_exec:
                        seen_exec.add(ex)
                        c["python_ms"] += ms
            out[op] = c
        return out

    def _python_worker_ms(self) -> dict[int, tuple[int, float]]:
        """job id -> (SQL execution id, Python worker start + init + run ms
        of that execution), parsed from the SQL status store's formatted
        metric values ("total (min, med, max ...)\\n1.2 s (...)")."""
        ss = self.spark._jsparkSession.sharedState().statusStore()
        execs = ss.executionsList()
        out = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            ms = e.metrics()
            ids = {ms.apply(k).accumulatorId() for k in range(ms.size())
                   if "Python workers" in ms.apply(k).name()
                   and ms.apply(k).name().startswith("time")}
            total = 0.0
            if ids:
                vals = ss.executionMetrics(e.executionId())
                for aid in ids:
                    v = vals.get(aid)
                    if v.isDefined():
                        total += _duration_ms(v.get())
            for j in re.findall(r"(\d+) ->", str(e.jobs())):
                out[int(j)] = (e.executionId(), total)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "i": i, "name": s.name, "layer": s.layer, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    **s.attrs,
                }) + "\n")


_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _duration_ms(text: str) -> float:
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.]+)\s*(ms|s|m|h)\b", line)
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


def _med(v) -> float:
    return float(np.median(v)) if len(v) else 0.0


def layer_metrics(tracer: Tracer, ops: list[dict], bulk: list[dict],
                  files_live: int) -> dict[str, float]:
    """Per-layer metrics over the measured ops (``ops``: dicts with
    ``id``, ``kind``, ``cls``, ``wall``, ``user_bytes``); ``bulk`` holds the
    traced set-up loads (``id``, ``rows``)."""
    n = max(1, len(ops))
    by_op: dict[str, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        by_op.setdefault(s.op, []).append(i)
    child = [0.0] * len(tracer.spans)
    for s in tracer.spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    selfs = [s.end - s.start - c for s, c in zip(tracer.spans, child)]

    def spans_of(op_list, pred=lambda s: True):
        for o in op_list:
            for i in by_op.get(o["id"], ()):
                if pred(tracer.spans[i]):
                    yield i, tracer.spans[i]

    m: dict[str, float] = {}
    for op in CLIENT_OPS:
        m[f"client.{op}.p50_ms"] = 1e3 * _med(
            [s.end - s.start for i, s in spans_of(ops, lambda s: s.name == f"client.{op}")
             if s.parent is None])
    layer_self: dict[str, float] = {}
    for i, s in spans_of(ops):
        layer_self[s.layer] = layer_self.get(s.layer, 0.0) + selfs[i]
    m["client.decode_ms_per_op"] = 1e3 * sum(
        selfs[i] for i, _ in spans_of(ops, lambda s: s.name == "client._collect_geo")) / n
    for layer in _SELF_LAYERS:
        m[f"{layer}.self_ms_per_op"] = 1e3 * layer_self.get(layer, 0.0) / n
    m["admin.event_log_ms_per_op"] = 1e3 * layer_self.get("admin", 0.0) / n

    def named(name):
        return [s for _, s in spans_of(ops, lambda s: s.name == name)]

    metas, loads, commits = named("catalog.meta"), named("catalog.load_df"), named(
        "catalog.commit_version")
    m["catalog.meta_ms"] = 1e3 * sum(s.end - s.start for s in metas) / n
    m["catalog.meta_calls"] = len(metas) / n
    m["catalog.meta_cache_hit_ratio"] = (
        sum(s.attrs.get("hit", False) for s in metas) / len(metas) if metas else 0.0)
    m["catalog.load_df_ms"] = 1e3 * sum(s.end - s.start for s in loads) / n
    m["catalog.load_df_calls"] = len(loads) / n
    m["catalog.load_df_cache_hit_ratio"] = (
        sum(s.attrs.get("hit", False) for s in loads) / len(loads) if loads else 0.0)
    m["catalog.commit_ms"] = 1e3 * _med([s.end - s.start for s in commits])
    m["catalog.commits"] = float(len(commits))
    m["catalog.files_live"] = float(files_live)
    ub = sum(o.get("user_bytes", 0) for o in ops)
    m["catalog.bytes_written_per_user_byte"] = (
        sum(s.attrs.get("bytes", 0) for s in commits) / ub if ub else 0.0)
    m["filters.apply_ms_per_op"] = 1e3 * layer_self.get("filters", 0.0) / n
    splits = named("pruning.split_files")
    considered = sum(s.attrs.get("considered", 0) for s in splits)
    kept = sum(s.attrs.get("kept", 0) for s in splits)
    m["pruning.split_ms"] = 1e3 * layer_self.get("pruning", 0.0) / n
    m["pruning.files_considered"] = considered / len(splits) if splits else 0.0
    m["pruning.files_kept"] = kept / len(splits) if splits else 0.0
    m["pruning.keep_ratio"] = kept / considered if considered else 0.0
    builds = named("scan.build_pg_sql")
    m["scan.pg_build_ms"] = (
        1e3 * sum(s.end - s.start for s in builds) / len(builds) if builds else 0.0)
    sp_calls = [i for i, _ in spans_of(ops, lambda s: s.layer == "spatial")]
    m["spatial.plan_build_ms"] = (
        1e3 * sum(selfs[i] for i in sp_calls) / len(sp_calls) if sp_calls else 0.0)

    def dml_ms(fn):
        vals = []
        for i, s in spans_of(ops, lambda s: s.name == f"dml.{fn}"):
            commit = sum(c.end - c.start for c in tracer.spans
                         if c.parent == i and c.name == "catalog.commit_version")
            vals.append(s.end - s.start - commit)
        return 1e3 * _med(vals)

    m["dml.insert_ms"] = dml_ms("insert_into_collection")
    m["dml.update_ms"] = dml_ms("update_collection")
    m["dml.delete_ms"] = dml_ms("delete_from_collection")
    writes = [o for o in ops if o["cls"] == "write"]
    m["dml.files_rewritten_per_write"] = (
        sum(s.attrs.get("rewritten", 0) for s in commits) / len(writes) if writes else 0.0)
    rates = []
    for b in bulk:
        wall = sum(s.end - s.start for _, s in spans_of(
            [b], lambda s: s.name == "dml.insert_into_collection"))
        rates.append(b["rows"] / wall if wall else 0.0)
    m["dml.bulk_rows_per_s"] = _med(rates)
    for q in SUITE_QUERIES:
        m[f"suite.{q}.ms"] = 1e3 * _med(
            [s.end - s.start for s in named(f"suite.{q}")])

    counters = tracer.spark_counters([o["id"] for o in ops])
    tot = {k: sum(c[k] for c in counters.values()) for k in
           ("jobs", "tasks", "failed_tasks", "job_ms", "exec_ms", "python_ms", "plan_ms")}
    wall_ms = 1e3 * sum(o["wall"] for o in ops)
    m["spark.jobs_per_op"] = tot["jobs"] / n
    m["spark.tasks_per_op"] = tot["tasks"] / n
    m["spark.failed_tasks"] = float(tot["failed_tasks"])
    m["spark.plan_ms_per_op"] = tot["plan_ms"] / n
    m["spark.executor_run_ms_per_op"] = tot["exec_ms"] / n
    m["spark.python_worker_ms_per_op"] = tot["python_ms"] / n
    m["spark.gap_ms_per_op"] = (wall_ms - tot["plan_ms"] - tot["job_ms"]) / n

    all_self = 1e3 * sum(selfs[i] for i, _ in spans_of(ops))
    m["trace.op_wall_ms_per_op"] = wall_ms / n
    m["trace.unaccounted_ms_per_op"] = (wall_ms - all_self) / n
    m["trace.spans_per_op"] = sum(1 for _ in spans_of(ops)) / n
    return m
