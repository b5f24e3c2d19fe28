"""Scale guardrails for the round-13 operators: the plans we designed
for, pinned (the test_plans.py discipline)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dronedb_spark.plans.inspect import (
    has_cartesian,
    has_partial_aggregation,
    physical_plan,
)
from dronedb_spark.tables import load

SF = "/root/testdata/sf0.001"


def test_fuzzy_block_join_no_cartesian(spark):
    """The blocked candidate join must be a hash equi-join on the
    blocking key — never a cross of probes x records."""
    from dronedb_spark.text.fuzzy import (
        entity_records, fuzzy_match_triples, perturbed_probes,
    )

    docs = load(spark, SF, "documents")
    q = fuzzy_match_triples(entity_records(docs), perturbed_probes(docs))
    assert not has_cartesian(q)
    assert "levenshtein" in physical_plan(q).lower()


# The ``plan_ledger`` tests pin a property of a registered check on its
# PLANS.json entry, which test_parity holds to the live plan.


def test_fuzzy_10x_replica_cross_is_broadcast_only(plan_ledger):
    """The only cross join in the 10x twin is the bounded replica
    dimension attach (broadcast), not a data-sized cartesian."""
    shape = plan_ledger["fuzzy_blocked_matches_10x"]
    assert "CartesianProduct" not in shape and shape["HashAggregate"] >= 2


def test_attribution_windows_partition_by_user(spark):
    """The next-purchase window must partition by user_id — an
    unpartitioned window would single-thread the event log."""
    from dronedb_spark.operators.attribution import assign_journeys

    q = assign_journeys(load(spark, SF, "events"))
    plan = physical_plan(q)
    windows = [seg.split("\n")[0] for seg in plan.split("Window ")[1:]]
    assert windows
    assert all("user_id" in w for w in windows), windows
    assert not has_cartesian(q)


def test_kn_lm_joins_are_equi_no_cartesian(plan_ledger):
    shape = plan_ledger["lm_kneser_ney"]
    # the 1-row totals broadcast is the only allowed cross pattern
    assert "CartesianProduct" not in shape and shape["HashAggregate"] >= 2


def test_bradley_terry_iterations_broadcast_strengths(plan_ledger):
    """Every MM iteration joins the player-grain strengths table by
    BROADCAST — corpus-sized shuffles happen once, in the duel
    collapse."""
    shape = plan_ledger["bradley_terry_strengths"]
    assert shape.get("BroadcastHashJoin") and "CartesianProduct" not in shape


def test_zipf_window_partitions_by_source(spark):
    from dronedb_spark.text.powerlaw import token_ranks

    q = token_ranks(load(spark, SF, "documents"))
    windows = [seg.split("\n")[0] for seg in physical_plan(q).split("Window ")[1:]]
    assert windows and all("source" in w for w in windows), windows


def test_km_windows_only_at_duration_grain(spark):
    """The KM windows are unpartitioned BUT run over the duration-grain
    table (bounded by observation days) — the event-sized aggregates
    before them must partial-aggregate."""
    from dronedb_spark.operators.survival import km_curve

    q = km_curve(load(spark, SF, "events"))
    assert has_partial_aggregation(q)
    assert "CartesianProduct" not in physical_plan(q)


def test_conformal_histogram_shape(spark):
    from dronedb_spark.suite import load_all

    reg = load_all()
    q = reg["conformal_coverage"].spark_fn(spark, SF)
    plan = physical_plan(q)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregation(q)


def test_hits_superstep_no_cartesian(plan_ledger):
    assert "CartesianProduct" not in plan_ledger["domain_hits"]
