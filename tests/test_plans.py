"""Plan-quality regression gate: the physical plans that make these
operators scale must not silently degrade. Asserts on the executed-plan
text: predicate pushdown to the parquet scan, column pruning, map-side
partial aggregation, and broadcast of dimension/query sides.

These are the properties SURVEY.md §4 calls out as "free from Catalyst
if the plan is declared right" — the gate proves we declared it right
and keeps refactors honest.
"""

from __future__ import annotations

import contextlib
import io

from gcp_map_reduce_spark.plans import registry
from tests.conftest import SF_ORACLE

registry.load_catalog()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_ORACLE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _fn_plan(spark, fn) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(spark, SF_ORACLE).explain("formatted")
    return buf.getvalue()


def test_q6_filter_pushdown_and_column_pruning(spark):
    from gcp_map_reduce_spark.operators.relational import q6_forecast_revenue

    plan = _fn_plan(spark, q6_forecast_revenue)
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    # projection needs only 4 of lineitem's 16 columns; the scan schema
    # must not include untouched ones
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_partkey" not in read_schema and "l_comment" not in read_schema


def test_q1_partial_aggregation(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # map-side combine: partial_sum before the exchange (the reference's
    # wordcount shipped one record per row — SURVEY §4 "map-side combine: none")
    assert "partial_sum" in plan
    assert "PushedFilters:" in plan


def test_q5_broadcasts_dimension_tables(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_wordcount_partial_count(spark):
    plan = _plan(spark, "wordcount")
    assert "partial_count" in plan


def test_bruteforce_broadcasts_query_side(spark):
    from gcp_map_reduce_spark.operators.similarity import similarity_bruteforce

    assert "BroadcastExchange" in _fn_plan(spark, similarity_bruteforce)


def test_dedup_exact_prunes_to_needed_columns(spark):
    plan = _plan(spark, "dedup_exact")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "text" in read_schema and "doc_id" in read_schema
    # untouched wide columns must be pruned from the scan
    assert "lang" not in read_schema or "language" not in read_schema


def test_topk_uses_limit_not_global_sort_materialization(spark):
    plan = _plan(spark, "topk_orders")
    assert "TakeOrderedAndProject" in plan


# Queries whose plans INTENTIONALLY contain a BroadcastNestedLoopJoin:
# each broadcasts a side that is 1-10 rows BY CONSTRUCTION (a scalar
# aggregate, a collected codebook, or the fixed query set), so the
# "nested loop" is really a map-side constant lookup. Anything outside
# this list growing a BNLJ (or any CartesianProduct anywhere) is an
# accidental all-pairs plan and fails the sweep below.
_INTENTIONAL_BNLJ = {
    "corpus_shards",  # one-row max(doc_id) bound for range grouping
    "dedup_embedding_cosine",  # one-row collected IVF codebook (r11)
    "kmeans_embeddings",  # one-row collected codebook per iteration
    "q8_q22_shares",  # q22 branch: one-row scalar AVG threshold broadcast
    "similarity_ann_suite",  # N_QUERIES(=10)-row broadcast query side +
    # one-row collected IVF codebook
    "text_tfidf",  # one-row corpus doc-count for the IDF term
}


def test_no_accidental_nested_loop_or_cartesian_anywhere(spark):
    hits = {}
    for name in sorted(registry.QUERIES):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if "BroadcastNestedLoopJoin" in plan:
            # intentional ones must actually broadcast (tiny side), not
            # shuffle-replicate
            assert "BroadcastExchange" in plan, name
            hits[name] = True
    assert set(hits) <= _INTENTIONAL_BNLJ, (
        f"unexpected nested-loop joins: {sorted(set(hits) - _INTENTIONAL_BNLJ)}"
    )


def test_q3_never_broadcasts_the_lineitem_fact(spark):
    # the pruned lineitem scan's size ESTIMATE (needed-columns fraction
    # of file bytes) slips under the raised 64 MB broadcast threshold,
    # so without the pinned SHUFFLE_HASH hint Catalyst broadcasts a
    # filtered FACT — ~2M rows serialized through one build task at
    # stress (3.99 -> 1.44 s with the hint, r9). The fact join must be
    # a shuffled hash join, never a BroadcastExchange of the lineitem
    # scan — AND the hash build side must be the smaller cust-orders
    # relation (BuildLeft), not lineitem: SHJ's per-partition build map
    # cannot spill, so building on the largest relation trades the
    # broadcast trap for an OOM trap at scale (r9 advice, fixed r10).
    plan = _plan(spark, "q3_shipping_priority")
    assert "ShuffledHashJoin Inner BuildLeft" in plan, plan
    # no broadcast join on the orderkey (the fact join); the remaining
    # broadcast (customer into orders on custkey) is the intended one
    for block in plan.split("\n(")[1:]:
        if block.splitlines()[0].endswith("BroadcastHashJoin"):
            keys = block.split("Join type:")[0]
            assert "orderkey" not in keys, block[:300]


def test_decontamination_streams_train_side(spark):
    # 100 TB posture: the eval side (1/EVAL_MOD pushed-down scan) is
    # broadcast; the train side streams through the broadcast hash join
    # with NO checkpoint/materialization of corpus-wide shingles anywhere
    plan = _plan(spark, "corpus_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "Scan ExistingRDD" not in plan and "Checkpoint" not in plan
    # both scans prune to the two needed columns
    for seg in plan.split("ReadSchema: ")[1:]:
        schema = seg.split("\n")[0]
        assert "text" in schema and "lang" not in schema


def test_embedding_dedup_registered_plan_is_cell_pruned(spark):
    # the registered near-dup plan (IVF, r11): candidates come
    # from the cell-pruned grouped GEMM — the only join is the ONE-ROW
    # broadcast codebook crossJoin (a map-side constant lookup), never
    # a corpus-sized nested loop or cartesian, and the pair work runs
    # inside the grouped-kernel stage
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    if "BroadcastNestedLoopJoin" in plan:
        assert "BroadcastExchange" in plan  # the 1-row codebook, broadcast


def _pushed_filters(plan: str) -> list[str]:
    """Every PushedFilters line in the formatted plan (no positional
    indexing — scan order is an implementation detail)."""
    return [seg.split("\n")[0] for seg in plan.split("PushedFilters: ")[1:]]


def test_q21_semi_anti_and_topk(spark):
    from gcp_map_reduce_spark.operators.relational_subq import q21_waiting_suppliers

    plan = _fn_plan(spark, q21_waiting_suppliers)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunctive_partial_pushdown(spark):
    from gcp_map_reduce_spark.operators.relational_subq import q19_disjunctive

    # Catalyst must extract the per-side partial disjunctions and push
    # them below the join: the lineitem scan gets the quantity-range OR,
    # the part scan gets the brand/size OR.
    pushed = _pushed_filters(_fn_plan(spark, q19_disjunctive))
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("p_brand" in p for p in pushed), pushed


def test_q4_exists_becomes_semi_join(spark):
    from gcp_map_reduce_spark.operators.relational_subq import q4_order_priority

    plan = _fn_plan(spark, q4_order_priority)
    assert "LeftSemi" in plan
    # date range reaches the orders scan (whichever scan it is)
    assert any("o_orderdate" in p for p in _pushed_filters(plan)), plan


def test_curated_gram_fetch_pushes_in_filter_below_replay_guard(spark, tmp_path):
    """r12 review catch: input_file_name() is NONDETERMINISTIC, so
    Catalyst refuses to push any filter past the streaming stores'
    _bid replay-guard projection — a doc_id IN (...) applied above the
    guard evaluates row-by-row AFTER a full gram-column scan, silently
    defeating the two-tier scan bound. Pin the working compositions:
    filter-below-guard pushes In(doc_id, ...) to the parquet scan;
    filter-above-guard must keep failing to push (if Spark ever starts
    pushing through nondeterministic projections, the workaround — and
    this pin — can be retired)."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.streaming.curated import (
        FEAT_STORE_SCHEMA,
        _exclude_own_batch,
    )
    from gcp_map_reduce_spark.streaming.near_dup import read_store

    store = str(tmp_path / "store")
    for b in range(2):
        d = f"{store}/batch_id={b}"
        os.makedirs(d)
        pd.DataFrame(
            {
                "doc_id": [b * 10 + i for i in range(5)],
                "sig": [[1] * 32] * 5,
                "gh_arr": [[1, 2, 3]] * 5,
            }
        ).to_parquet(f"{d}/part-0.parquet", index=False)

    good = _exclude_own_batch(
        read_store(spark, FEAT_STORE_SCHEMA, store).filter(
            F.col("doc_id").isin([3, 12])
        ),
        99,
    ).select("doc_id", "gh_arr")
    plan = good._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(doc_id" in plan, plan
    # values unaffected by the guard composition
    assert {r["doc_id"] for r in good.collect()} == {3, 12}

    bad = _exclude_own_batch(
        read_store(spark, FEAT_STORE_SCHEMA, store), 99
    ).select("doc_id", "gh_arr").filter(F.col("doc_id").isin([3, 12]))
    bad_plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(doc_id" not in bad_plan, (
        "Spark now pushes filters through nondeterministic projections — "
        "retire the filter-below-guard workaround"
    )
