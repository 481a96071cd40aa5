"""Physical-plan quality gates: the plans we designed for must be the plans
Catalyst actually produces (pushdown, pruning, broadcast, codegen)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.operators import scan, spatial
from xcube_geodb_spark.plans.inspect import (
    broadcast_join_count,
    executed_plan,
    has_pushed_filter,
    wholestage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    c = GeoDBSparkClient(
        spark, warehouse=str(tmp_path_factory.mktemp("wh")), user="planner"
    )
    c.create_collection("pts", {"v": "int"})
    pdf = pd.DataFrame(
        {
            "geometry": [f"POINT ({i % 100} {i % 50})" for i in range(1000)],
            "v": list(range(1000)),
        }
    )
    c.insert_into_collection("pts", pdf)
    return c


class TestPlanShape:
    def test_grammar_filter_pushes_to_scan(self, spark):
        df = spark.read.parquet(f"{SF}/orders.parquet")
        from xcube_geodb_spark.filters import apply_postgrest_query

        out = apply_postgrest_query(df, "o_totalprice=gt.150000")
        assert has_pushed_filter(out, "o_totalprice")

    def test_grammar_select_prunes_columns(self, spark):
        df = spark.read.parquet(f"{SF}/lineitem.parquet")
        from xcube_geodb_spark.filters import apply_postgrest_query

        out = apply_postgrest_query(df, "select=l_orderkey,l_quantity")
        plan = executed_plan(out)
        assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan

    def test_bbox_scan_pushes_envelope_prefilter(self, client):
        df = spatial.get_collection_by_bbox(
            client.catalog, "pts", (10.0, 10.0, 20.0, 20.0), "intersects",
            database="planner",
        )
        # the envelope range predicate must reach the parquet scan so footer
        # stats prune files/row-groups before the geometry kernel runs
        assert has_pushed_filter(df, "__xmin")
        assert has_pushed_filter(df, "__ymax")

    def test_q1_pushes_date_filter_and_codegens(self, spark):
        from xcube_geodb_spark.suite.core import pg_groupby_q1

        df = pg_groupby_q1(spark, SF)
        assert has_pushed_filter(df, "l_shipdate")
        df.collect()  # AQE prints codegen markers only in the final plan
        assert wholestage_codegen_spans(df) >= 2  # scan+partial agg, final agg

    def test_dim_joins_broadcast(self, spark):
        from xcube_geodb_spark.suite.core import join_q5_asia

        df = join_q5_asia(spark, SF)
        assert broadcast_join_count(df) >= 2  # dims broadcast, no dim shuffles

    def test_count_uses_footers_not_a_job(self, client, spark):
        # counting must not launch a Spark job: assert no new job is recorded
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        n = scan.count_collection(client.catalog, "pts", "planner")
        after = tracker.getJobIdsForGroup(None)
        assert n == 1000
        assert len(after) == len(before), "footer count must be jobless"

    def test_topk_is_take_ordered(self, spark):
        from xcube_geodb_spark.suite.core import pg_topk_orders

        plan = executed_plan(pg_topk_orders(spark, SF))
        assert "TakeOrderedAndProject" in plan  # not a global sort


class TestRound2PlanShape:
    def test_json_arrow_filter_keeps_sibling_pushdown(self, spark):
        # a get_json_object predicate can't push to parquet, but plain
        # predicates in the same query still must
        from xcube_geodb_spark.filters import apply_postgrest_query
        from xcube_geodb_spark.suite.util import load

        df = load(spark, SF, "events")
        out = apply_postgrest_query(
            df, "user_id=gt.5&props->>k=eq.7&select=event_id"
        )
        assert has_pushed_filter(out, "user_id")

    def test_fts_filter_stays_codegen(self, spark):
        # the tsquery compiles to array/string Column algebra — no Python
        # UDF (BatchEvalPython / ArrowEvalPython) may appear in the plan
        from xcube_geodb_spark.filters import apply_postgrest_query

        df = spark.read.parquet(f"{SF}/documents.parquet")
        out = apply_postgrest_query(df, "text=fts.data%26spark&select=doc_id")
        plan = executed_plan(out)
        assert "EvalPython" not in plan
        assert wholestage_codegen_spans(out) >= 1

    def test_salted_join_keys_include_salt(self, spark):
        # the whole point: the shuffle keys must be (key, salt), not key
        from xcube_geodb_spark.plans import salted_join

        big = spark.range(0, 10000).selectExpr("id % 3 AS k", "id AS rid")
        dim = spark.range(0, 3).selectExpr("id AS k", "id * 10 AS label")
        out = salted_join(big, dim, ["k"], salts=8)
        plan = executed_plan(out)
        assert "__salt" in plan
        assert "CartesianProduct" not in plan

    def test_sampling_is_narrow_no_shuffle(self, spark):
        # hash_sample must be projection+filter only: no Exchange
        from xcube_geodb_spark.functions.sampling import hash_sample

        df = spark.read.parquet(f"{SF}/documents.parquet")
        out = hash_sample(df.select("doc_id"), "doc_id", 0.25)
        plan = executed_plan(out)
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestRound4PlanShape:
    def test_knn_candidate_filter_pushes_envelope_bounds(
        self, client, monkeypatch
    ):
        # the exact-distance pass must carry a pushable range predicate on
        # the envelope columns (same pruning surface as a bbox scan). The
        # driver-refine branch collects the candidate frame and returns a
        # local frame, so pin the frame it collected; the UDF branch scores
        # the candidates inside the returned plan
        built = []

        def spy(*args):
            built.append(knn_candidates(*args))
            return built[-1]

        knn_candidates = spatial._knn_candidates
        monkeypatch.setattr(spatial, "_knn_candidates", spy)
        df = spatial.get_knn(
            client.catalog, "pts", (10.0, 10.0), k=5, database="planner"
        )
        assert "LocalTableScan" in executed_plan(df)
        assert has_pushed_filter(built[-1], "__xmin")

        monkeypatch.setattr(spatial, "_KNN_DRIVER_ROWS", 0)
        df = spatial.get_knn(
            client.catalog, "pts", (10.0, 10.0), k=5, database="planner"
        )
        assert "ArrowEvalPython" in executed_plan(df)
        assert has_pushed_filter(df, "__xmin")

    def test_point_lookup_plans_single_file_scan(self, client):
        # manifest-stat skipping: a clustered id point lookup reads at most
        # one data file (here the collection has one file; assert exactness
        # of the planned file set rather than a broad upper bound)
        out = scan.get_collection(
            client.catalog, "pts", "v=eq.7", database="planner"
        )
        m = client.catalog.meta("pts", "planner")
        assert len(out.inputFiles()) <= len(m.files)
        assert [r.v for r in out.select("v").collect()] == [7]

    def test_text_profile_single_projection_no_shuffle(self, spark, monkeypatch):
        from xcube_geodb_spark.functions.text import with_profile

        df = spark.read.parquet(f"{SF}/documents.parquet")
        # r12: a provably-small input is round-robin-spread first
        # (functions/spread) so the regex battery fans out past the
        # source's row-group parallelism; that ONE spread exchange is
        # the only shuffle allowed — the projection itself stays
        # shuffle-free (the property this pin protects)
        plan = executed_plan(with_profile(df))
        assert plan.count("Exchange") - plan.count("AQEShuffleRead") <= \
            plan.count("RoundRobinPartitioning")
        monkeypatch.setenv("SPARK_GRAFT_SPREAD_SMALL_BYTES", "1")
        plan = executed_plan(with_profile(df))
        assert "Exchange" not in plan  # pure per-row projection


class TestRound5PlanShape:
    def test_spatial_join_pushes_left_filter_through_grid_explode(self, spark):
        # a selective predicate on the left side must reach the parquet
        # scan even though the join replicates rows through explode()
        from xcube_geodb_spark.functions.spatial_join import spatial_join
        from xcube_geodb_spark.suite.geo import _squares, _supplier_points

        sq = _squares(spark, SF).filter(F.col("c_acctbal") > 0).select(
            "c_custkey", "c_acctbal", "geometry",
            "__xmin", "__ymin", "__xmax", "__ymax",
        )
        pts = _supplier_points(spark, SF).select(
            "s_suppkey", "geometry", "__xmin", "__ymin", "__xmax", "__ymax"
        )
        out = spatial_join(sq, pts, "intersects", cell_size=30.0)
        assert has_pushed_filter(out, "c_acctbal")

    def test_tile_counts_prunes_to_coordinate_columns(self, spark):
        from xcube_geodb_spark.functions.tiles import tile_counts

        df = spark.read.parquet(f"{SF}/customer.parquet").select(
            "c_custkey",
            ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
            ((F.col("c_custkey") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
        )
        plan = executed_plan(tile_counts(df, 6, "lon", "lat"))
        # only the key column feeds the tile math; nothing else is read
        assert "ReadSchema: struct<c_custkey:bigint>" in plan

    def test_gapfill_aggregates_before_grid_join(self, spark):
        from xcube_geodb_spark.functions.temporal import time_bucket_gapfill
        from xcube_geodb_spark.suite.util import load

        ev = load(spark, SF, "events")
        plan = executed_plan(
            time_bucket_gapfill(ev, 6 * 3600, ["event_type"], fill="zero")
        )
        # the events scan feeds a partial hash aggregate (map-side combine)
        assert "HashAggregate" in plan
        assert "CartesianProduct" not in plan

    def test_funnel_filters_step_types_at_scan(self, spark):
        from xcube_geodb_spark.functions.temporal import funnel_levels
        from xcube_geodb_spark.suite.util import load

        ev = load(spark, SF, "events")
        out = funnel_levels(ev, ["view", "click", "purchase"])
        assert has_pushed_filter(out, "event_type")


class TestRound6PlanShape:
    def test_attribution_join_is_hash_join_with_pushed_type_filters(self, spark):
        from xcube_geodb_spark.functions.temporal import attribution_join
        from xcube_geodb_spark.suite.util import load

        ev = load(spark, SF, "events")
        out = attribution_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
            max_lag="30 minutes",
        )
        plan = executed_plan(out)
        # equi join on the key with the interval predicate as a join
        # filter -- never a nested-loop over the interval
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan
        assert "EqualTo(event_type,click)" in plan
        assert "EqualTo(event_type,purchase)" in plan
        # only the four needed columns are read
        assert "props" not in plan.split("ReadSchema")[1]

    def test_bm25_score_single_projection_no_shuffle(self, spark):
        from xcube_geodb_spark.functions.retrieval import bm25_score

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        plan = executed_plan(bm25_score(docs, ["spark", "hash"]))
        assert "Exchange" not in plan  # scoring is one codegen'd projection
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_count_min_build_reads_one_column(self, spark):
        from xcube_geodb_spark.functions.sketch import count_min_build
        from xcube_geodb_spark.functions.text import tokens

        toks = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.explode(tokens(F.col("text"))).alias("token"))
        )
        plan = executed_plan(count_min_build(toks, "token"))
        # the sketch build scans only the text column and partial-aggregates
        assert "ReadSchema: struct<text:string>" in plan
        assert plan.count("Exchange") == 1  # exactly the one counter shuffle


class TestRound7PlanShape:
    def test_line_dedup_no_udf_and_bounded_shuffles(self, spark):
        from xcube_geodb_spark.functions.dedup import line_dedup

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        plan = executed_plan(line_dedup(docs))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # three keyed shuffles: line-hash frequency agg, anti-join probe,
        # doc reassembly — and nothing else
        assert plan.count("Exchange") == 3
        # frequency branch is pruned to the text column only
        assert "ReadSchema: struct<text:string>" in plan
        # anti-join must stream (sort-merge), not buffer a build side that
        # can hold a corpus-frequency hot line
        assert "LeftAnti" in plan

    def test_dedup_against_never_self_joins_corpus(self, spark):
        from xcube_geodb_spark.functions.dedup import dedup_against

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        corpus = docs.filter(F.col("doc_id") % 2 == 0)
        new = docs.filter(F.col("doc_id") % 2 == 1)
        plan = executed_plan(dedup_against(new, corpus))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # every join is keyed (anti on fingerprint/id, inner on band keys);
        # no cartesian fallback anywhere
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_quantiles_windows_run_on_histogram_not_data(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = executed_plan(
            quantiles_column(
                lineitem, "l_extendedprice", bins=64, bounds=(0.0, 110000.0)
            )
        )
        # the only data-wide operation is the bucket-count aggregate; the
        # explicit-bounds path never sorts or shuffles the fact table rows
        assert "ReadSchema: struct<l_extendedprice" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # window operators exist but consume the <= bins aggregated rows:
        # they sit strictly above the final (merge) HashAggregate
        agg_pos = plan.index("HashAggregate")
        assert all(
            pos < agg_pos
            for pos in [
                i for i in range(len(plan)) if plan.startswith("Window", i)
            ]
        )

    def test_dbscan_join_is_grid_keyed_no_cartesian(self, spark):
        from xcube_geodb_spark.functions.spatial_join import spatial_dbscan
        from xcube_geodb_spark.geometry.udfs import with_envelope_columns
        from xcube_geodb_spark.suite.geo import _points

        pts = _points(spark, SF).select(
            "c_custkey", "geometry", "__xmin", "__ymin", "__xmax", "__ymax"
        )
        plan = executed_plan(
            spatial_dbscan(pts, eps=3.0, min_pts=3, id_col="c_custkey")
        )
        # the eps-neighbor self-join must key on the grid cell, never fall
        # back to a cartesian/broadcast-nested-loop pass
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_fuzzy_join_never_cross_products(self, spark):
        from xcube_geodb_spark.functions.dedup import fuzzy_join

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        plan = executed_plan(
            fuzzy_join(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
            )
        )
        # candidates must come from the (band, band_hash) equi-join; the
        # exact Jaccard verify must only ever run on those collisions
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestVectorizedSqlSurface:
    """The st_* SQL surface must be Arrow-batched (pandas UDFs), never
    row-at-a-time pickled Python — a get_collection_pg user chaining
    st_area(st_intersection(...)) over a large collection gets Arrow
    column transfer, not per-value serialization (verdict r5 task 1)."""

    def test_chained_st_calls_are_arrow_eval(self, client):
        from xcube_geodb_spark.operators.scan import get_collection_pg

        out = get_collection_pg(
            client.catalog,
            "pts",
            select=(
                "id, st_area(st_intersection(geometry, "
                "st_makeenvelope(0.0, 0.0, 50.0, 25.0))) as a, "
                "st_astext(st_centroid(geometry)) as c"
            ),
            where="st_intersects('POLYGON((0 0,90 0,90 45,0 45,0 0))', geometry)",
            database="planner",
        )
        plan = executed_plan(out)
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan
        assert out.count() > 0

    def test_all_registered_names_are_arrow(self, spark):
        """Every registered st_* name must plan as ArrowEvalPython; a
        single row-UDF registration regression fails here by name."""
        import pandas as pd

        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        poly = "POLYGON((0 0,2 0,2 2,0 2,0 0))"
        one = spark.createDataFrame(pd.DataFrame({"n": [1]}))
        one.createOrReplaceTempView("__one")
        calls = {
            "st_astext": f"st_astext(st_geomfromtext('{poly}'))",
            "st_geomfromtext": f"st_geomfromtext('{poly}')",
            "st_geometrytype": f"st_geometrytype(st_geomfromtext('{poly}'))",
            "st_makepoint": "st_makepoint(1.0, 2.0)",
            "st_intersection": (
                f"st_intersection(st_geomfromtext('{poly}'),"
                f" st_geomfromtext('{poly}'))"
            ),
            "st_dwithin": (
                "st_dwithin(st_makepoint(0.0,0.0), st_makepoint(1.0,1.0), 5.0)"
            ),
            "st_pointn": (
                "st_pointn(st_geomfromtext('LINESTRING(0 0,1 1)'), 1)"
            ),
            "st_area": f"st_area(st_geomfromtext('{poly}'))",
            "st_srid": f"st_srid(st_geomfromtext('{poly}'))",
            "st_isvalid": f"st_isvalid(st_geomfromtext('{poly}'))",
        }
        for name, expr in calls.items():
            df = spark.sql(f"select {expr} as v from __one")
            plan = executed_plan(df)
            assert "ArrowEvalPython" in plan, name
            assert "BatchEvalPython" not in plan, name


class TestQ5BroadcastHints:
    def test_only_fixed_size_dims_are_hinted(self, spark):
        """join_q5_asia must hint broadcast ONLY for nation (25 rows) and
        region (5 rows): customer scales with SF, so a forced broadcast
        of the customer-derived dims side would OOM the build side at
        large SF — AQE decides that join from runtime sizes instead."""
        from xcube_geodb_spark.suite.core import join_q5_asia

        df = join_q5_asia(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 2, analyzed
        rows = {tuple(r) for r in df.collect()}
        assert rows  # still computes

    def test_revenue_by_nation_hints_nation_only(self, spark):
        """join_revenue_by_nation must carry exactly ONE forced hint
        (nation, 25 rows); orders⋈customer is AQE-decided because
        customer is SF-scaled and would OOM the build side at 100x."""
        from xcube_geodb_spark.suite.core import join_revenue_by_nation

        df = join_revenue_by_nation(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 1, analyzed
        # the single hint must sit on the nation scan, not customer
        import re

        hint_tail = analyzed[analyzed.index("ResolvedHint"):]
        assert "nation" in hint_tail[:2000].lower()
        rows = {tuple(r) for r in df.collect()}
        assert rows

    def test_q3_shipping_no_forced_hint(self, spark):
        """join_q3_shipping's BUILDING-segment customer projection is
        still SF-scaled — zero forced hints; AQE picks every strategy."""
        from xcube_geodb_spark.suite.core import join_q3_shipping

        df = join_q3_shipping(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 0, analyzed
        assert df.count() >= 0  # still computes


class TestTokenCapPlan:
    def test_single_group_shuffle_no_python(self, spark):
        from xcube_geodb_spark.functions.sampling import cap_tokens_per_group

        df = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
        )
        out = cap_tokens_per_group(df, "source", "doc_id", "toks", 600)
        plan = executed_plan(out)
        assert "EvalPython" not in plan
        # exactly one exchange: the hash shuffle on the group key
        assert plan.count("Exchange hashpartitioning") == 1
        assert "CartesianProduct" not in plan


class TestAggOrderByShimPlan:
    def test_string_agg_within_group_is_one_aggregate_no_window(self, spark):
        """The PG in-args ORDER BY rewrite must land on a plain aggregate
        (map-side partial + final, Spark's native string_agg WITHIN
        GROUP), never a row_number window or a global sort of the
        detail rows."""
        from xcube_geodb_spark.suite.core import pg_string_agg

        out = pg_string_agg(spark, SF)
        plan = executed_plan(out)
        assert "Window" not in plan
        assert plan.count("Exchange") <= 2  # group shuffle (+ order)

    def test_array_agg_orderby_is_sorted_collect_no_window(self, spark):
        from xcube_geodb_spark.suite.core import pg_array_agg_order

        out = pg_array_agg_order(spark, SF)
        plan = executed_plan(out)
        assert "Window" not in plan
        assert "sort_array" in plan or "ObjectHashAggregate" in plan


class TestRound9SessionTwoPlanShape:
    def test_knn_operator_is_take_ordered(self, spark):
        """ORDER BY geom <-> q LIMIT k through the shim must compile to
        TakeOrderedAndProject (map-side top-k + k-row merge), never a
        global sort — the scale analogue of PG's KNN index walk."""
        from xcube_geodb_spark.suite.geo import pg_knn_operator

        plan = executed_plan(pg_knn_operator(spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "GlobalSort" not in plan and ", Sort [" not in plan

    def test_generate_series_is_pure_jvm(self, spark):
        """The series rewrite must stay whole-JVM (explode over
        sequence): no Python UDF anywhere in the plan."""
        from xcube_geodb_spark.suite.core import pg_generate_series

        plan = executed_plan(pg_generate_series(spark, SF))
        assert "Generate explode" in plan or "explode" in plan.lower()
        assert "Python" not in plan and "Arrow" not in plan

    def test_within_group_is_plain_aggregate(self, spark):
        """The ordered-set aggregates (percentile_cont/disc, mode) must
        plan as plain aggregates, not windows."""
        from xcube_geodb_spark.suite.core import pg_within_group

        plan = executed_plan(pg_within_group(spark, SF))
        assert "Window" not in plan

    def test_lateral_topn_plans_without_per_row_rescan(self, spark):
        """Spark decorrelates the lateral top-N into a window/rank or
        join shape — the plan must not be a nested cartesian loop."""
        from xcube_geodb_spark.suite.core import pg_lateral_topn

        plan = executed_plan(pg_lateral_topn(spark, SF))
        assert "CartesianProduct" not in plan


class TestRound10PlanShape:
    def test_json_arrows_stay_jvm_side(self, spark):
        """The ->/->>/#>/#>> chains must compile to get_json_object /
        variant_get — JVM expressions inside codegen, never a Python or
        Arrow UDF, and the WHERE's typed json filter must not block the
        scan's column pruning."""
        from xcube_geodb_spark.suite.core import pg_json_arrows

        plan = executed_plan(pg_json_arrows(spark, SF))
        assert "get_json_object" in plan
        assert "Python" not in plan and "ArrowEvalPython" not in plan

    def test_json_agg_is_plain_aggregate(self, spark):
        """json_agg rides the ordered-collect aggregate core: one
        map-side-combining aggregate, no Window, no Python."""
        from xcube_geodb_spark.suite.core import pg_json_agg

        plan = executed_plan(pg_json_agg(spark, SF))
        assert "Window" not in plan
        assert "Python" not in plan

    def test_array_agg_distinct_is_plain_aggregate(self, spark):
        from xcube_geodb_spark.suite.core import pg_array_agg_distinct

        plan = executed_plan(pg_array_agg_distinct(spark, SF))
        assert "Window" not in plan
        assert "ObjectHashAggregate" in plan or "HashAggregate" in plan

    def test_line_dedup_single_wide_fanout(self, spark):
        """The _lined fixture's repartition must fan the CPU-dense
        re-lining to the full core count (the r10 10x-anchor fix): the
        plan carries a round-robin exchange upstream of the explode."""
        from xcube_geodb_spark.suite.llm import dedup_lines_rebuilt

        plan = executed_plan(dedup_lines_rebuilt(spark, SF))
        assert "RoundRobinPartitioning" in plan or "REPARTITION" in plan

    def test_matryoshka_funnel_broadcasts_candidates(self, spark):
        """Stage 1's top-expand output is k-bounded, so the candidate
        join back to the full vectors must BROADCAST (a shuffle join of
        a 100-row frame against the corpus would be the anti-pattern)."""
        from xcube_geodb_spark.suite.llm import sim_matryoshka_funnel

        plan = executed_plan(sim_matryoshka_funnel(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
