"""Physical-plan assertions: the declarative plans must actually get
the Catalyst treatment the architecture relies on — filter/column
pushdown into the parquet scan, broadcast joins for small dims,
whole-stage codegen on relational paths (no Python UDFs there)."""

import re

import pytest

from kblock_spark.queries import (
    q01_pricing_summary,
    q04_revenue_by_nation,
    q05_customers_without_orders,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushdown_and_pruning(spark):
    df = q01_pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: html-free narrow read — shipdate/flags/measures only
    assert "l_extendedprice" in plan and "l_orderkey" not in plan.split("ReadSchema")[-1]


def test_q04_broadcasts_dims(spark):
    plan = _plan(q04_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    # (whole-stage-codegen markers only appear in the final AQE plan
    # after materialization; broadcast strategy is the assertion here)


def test_q05_anti_join_strategy(spark):
    plan = _plan(q05_customers_without_orders(spark, SF))
    assert "LeftAnti" in plan


def test_e02_no_cartesian_product(spark):
    """The all-pairs near-dup detector must be a bucketed equi-join —
    an O(N²) CartesianProduct/BroadcastNestedLoopJoin here is the
    100 TB scale-killer (round-1 regression)."""
    from kblock_spark.queries import e02_embedding_dup_pairs

    plan = _plan(e02_embedding_dup_pairs(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_e02_blocked_matches_bruteforce(spark):
    """Zero recall loss: the projection-blocked plan returns EXACTLY
    the brute-force pair set (several thresholds)."""
    import numpy as np
    import pandas as pd

    from kblock_spark.ops.similarity import exact_dup_pairs_blocked

    rng = np.random.default_rng(3)
    n, dim = 300, 16
    base = rng.standard_normal((n, dim))
    # plant near-duplicates
    base[50] = base[40] + rng.standard_normal(dim) * 0.05
    base[60] = base[40] + rng.standard_normal(dim) * 0.1
    base[200] = base[199] * 1.7
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": [r.tolist() for r in base]})
    )
    q = np.round(base * 1000)
    nrm = np.linalg.norm(q, axis=1)
    C = (q @ q.T) / np.outer(nrm, nrm)
    for thr in (0.5, 0.8, 0.95):
        got = {
            (r["vec_a"], r["vec_b"])
            for r in exact_dup_pairs_blocked(emb, thr).collect()
        }
        want = {
            (i, j)
            for i in range(n)
            for j in range(i + 1, n)
            if C[i, j] >= thr
        }
        assert got == want, f"thr={thr}: {got ^ want}"


    # e01 keeps an intentional cross join (the brute-force correctness
    # baseline scoped to 20 query vectors); geo_k_complexity and
    # geo_population crossJoin a ONE-ROW broadcast aggregate (scalar
    # attach — O(N·1), the right plan for a global total; the bad NLJ
    # this sweep hunts is the multi-row kind)
# d15's crossJoin is a ONE-ROW broadcast aggregate attach (the global
# min class count) — O(N·1) by construction, same as geo_population's
_CARTESIAN_OK = {
    "e01_ann_cosine_topk", "geo_k_complexity", "geo_population",
    # same compute_k/_pack_blocks machinery as geo_k_complexity
    "geo_k_oracle", "geo_layers_oracle",
    # embeds allocate_population → same ONE-ROW broadcast scalar
    # attach as geo_population
    "geo_combine_full",
    "geo_zonal_oracle",
    "d15_stratified_rebalance",
    # vectors x label-centroids broadcast scan — bounded by label
    # cardinality, the e01 dense pattern
    "e13_centroid_classify",
    # e01-style bounded dense pool build (queries x corpus)
    "e14_mmr_rerank",
}
    # queries that trigger driver-side work/iterations when the plan is
    # built — cheap but not needed for this static audit
_PLAN_AUDIT_SKIP = {"s01_stream_tile_rollup", "e05_ivf_ann_topk",
                    "d10_dup_components", "q22_weighted_buckets",
                    "geo_knn",
                    # CC pointer-jumping iterates at plan-build time
                    # (like d10); its dedicated no-cartesian test runs
                    # the same check once
                    "d25_fuzzy_corpus_pipeline"}


def test_no_accidental_cartesians_anywhere(spark):
    """Sweep EVERY registry query's physical plan: an O(N²)
    CartesianProduct / BroadcastNestedLoopJoin may only appear where
    it is the documented intent."""
    from kblock_spark.queries import REGISTRY

    offenders = []
    for name, (fn, _sql) in REGISTRY.items():
        if name in _CARTESIAN_OK or name in _PLAN_AUDIT_SKIP:
            continue
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_q24_group_id_broadcasts_back(spark):
    """The scale-safe ngroup: rank over the distinct key set, then a
    BROADCAST join back — never a global window over the fact table."""
    from kblock_spark.queries import q24_group_id_assignment

    plan = _plan(q24_group_id_assignment(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only window in the plan must be fed by an aggregate
    # (distinct keys), not the raw scan
    assert "Window" in plan


def _pip_2x2(spark):
    """(blocks, PIP join) of a 2×2 synthetic city with 200 pages."""
    from kblock_spark.io.synth import synth_admin, synth_streets, synth_pages_spark
    from kblock_spark.kernels.blocks import delineate_blocks
    from kblock_spark.kernels.extract import geocoded_points
    from kblock_spark.ops.spatial_join import assign_points_to_polygons

    admin = spark.createDataFrame(synth_admin(2, 2))
    streets = spark.createDataFrame(synth_streets(2, 2, 2))
    blocks = delineate_blocks(admin, streets)
    pts = geocoded_points(synth_pages_spark(spark, 200))
    return blocks, assign_points_to_polygons(pts, blocks, ["url", "lon", "lat"])


def _arrow_eval_udfs(plan: str) -> list[str]:
    """Names of the scalar pandas UDFs the plan's ArrowEvalPython
    nodes run, one entry per node."""
    return re.findall(r"ArrowEvalPython \[(\w+)\(", plan)


def test_pip_join_broadcasts_polygons(spark):
    _, joined = _pip_2x2(spark)
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan  # polygon side broadcast


def test_cell_ids_start_no_python_runner(spark):
    """Integer cell ids are Catalyst expressions: the only Python left
    in the PIP join is the polygon-cover UDF and the refine kernel,
    and delineation runs Python only in its cogroup kernel. A pandas
    cell UDF here put two ArrowEvalPython runners (the optimizer also
    copies it into the join key's null check) in the probe stage."""
    blocks, joined = _pip_2x2(spark)
    plan = _plan(joined)
    assert _arrow_eval_udfs(plan) == ["covering"], plan
    assert "MapInPandas refine(" in plan
    plan = _plan(blocks)
    assert "ArrowEvalPython" not in plan, plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_pip_salted_shuffle_path_parity(spark):
    """The 100 TB join plan — polygons NOT broadcast, hotspot cells
    sharded by an explicit salt — must produce exactly the broadcast
    path's rows end-to-end (VERDICT r1 #10: the salted path existed
    but was never exercised)."""
    from kblock_spark.pipeline import run_pipeline

    base = run_pipeline(spark, n_pages=1200, nx=2, ny=2, grid=2)
    salted = run_pipeline(
        spark, n_pages=1200, nx=2, ny=2, grid=2,
        broadcast_polys=False, salt_buckets=4,
    )
    a = {tuple(r) for r in base["buildings"].select("url", "block_id").collect()}
    b = {tuple(r) for r in salted["buildings"].select("url", "block_id").collect()}
    assert a == b and len(a) > 0
    # and the salted plan really took the salted-join path
    plan = _plan(salted["buildings"])
    assert "__salt" in plan
    ka = {tuple(r) for r in base["complexity"].collect()}
    kb = {tuple(r) for r in salted["complexity"].collect()}
    assert ka == kb


def test_e02_plan_has_no_join_at_all(spark):
    """Round-3 shape: assignment → per-list GEMM kernel → dedup. The
    candidate generation is join-free (pairs materialize only inside
    tasks), so ANY join node in the plan is a regression."""
    from kblock_spark.queries import e02_embedding_dup_pairs

    plan = _plan(e02_embedding_dup_pairs(spark, SF))
    assert "Join" not in plan, plan


def test_e08_decontamination_is_shuffle_free(spark):
    """The semantic-decontamination pass ships the benchmark side as a
    python broadcast and maps the corpus once — the physical plan must
    contain NO Exchange (corpus vectors never leave their partitions)."""
    from kblock_spark.queries import e08_semantic_decontamination

    df = e08_semantic_decontamination(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan


def test_tile_rollup_single_point_shuffle(spark):
    """multires_rollup must aggregate the point set ONCE: exactly two
    Exchanges (finest-level agg, then the re-agg of the exploded cell
    rows). A union of per-level re-selects would re-scan and
    re-shuffle the points once per level (Catalyst does not reuse
    repeated subplans) — the 100 TB regression this guards."""
    from kblock_spark.queries import geo_tile_rollup

    plan = _plan(geo_tile_rollup(spark, SF))
    assert plan.count("Exchange") == 2, plan
    assert "Generate" in plan  # the explode fan-out


def test_compact_uses_broadcast_anti_joins(spark):
    """Every level step of compact_cells is a broadcast anti-join on
    the (tiny) promoted-parent set — a SortMergeJoin here would mean
    the cell set shuffles at every level."""
    from kblock_spark.queries import geo_compact

    plan = _plan(geo_compact(spark, SF))
    assert plan.count("LeftAnti") == 4, plan
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_d22_pipeline_one_scan_pushdown(spark):
    """The composed pipeline must push the quality gate into the
    parquet scan (n_chars predicate as a PushedFilter) — a pipeline
    that re-filters after materializing would re-read the corpus per
    stage at 100 TB."""
    from kblock_spark.queries import d22_corpus_pipeline

    plan = _plan(d22_corpus_pipeline(spark, SF))
    assert "GreaterThanOrEqual(n_chars,100)" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d25_fuzzy_pipeline_no_cartesian(spark):
    """The fuzzy pipeline adds MinHash-LSH + connected components on
    top of d22; the LSH self-join must stay band-bucket-keyed (no
    O(N^2) join anywhere in the plan). The quality-gate parquet
    pushdown is asserted on d22 (the stage is shared verbatim); it is
    invisible here because the exact-kept subtree sits behind a
    localCheckpoint (Scan ExistingRDD in this plan)."""
    from kblock_spark.queries import d25_fuzzy_corpus_pipeline

    plan = _plan(d25_fuzzy_corpus_pipeline(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
